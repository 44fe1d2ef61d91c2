package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.engine.Sources
import graft.ext.TextAnalysis

/** Round-7 additions: span-level dedup (the ExactSubstr-style TRANSFORM the
  * document-level pipeline lacked), graph link prediction, Kneser-Ney
  * continuation smoothing, token-budget corpus selection, l-diversity,
  * ROUGE pair scoring, sorted-neighborhood linkage, tokenizer fertility.
  * Same discipline as every other module: deterministic hashes, integer
  * counts and micro-quantized transcendentals, fixed IEEE trees for the few
  * final doubles, DuckDB oracle twins derived from first principles.
  */
object Round7Queries {

  /** DuckDB fragment: normalized text (mirror of Cleaning.normalizeText). */
  private val NormText = raw"regexp_replace(trim(lower(text)), '\s+', ' ', 'g')"

  /** DuckDB fragment: whitespace tokens of the normalized text. */
  private val Toks = s"string_split($NormText, ' ')"

  /** DuckDB fragment: sequential double dot product of float lists a,b. */
  private def duckDot(a: String, b: String): String =
    s"list_sum([CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) FOR i IN generate_series(1, len($a))])"

  /** DuckDB CTE chain mirroring the MUTUAL top-3 cosine graph within IVF
    * cells (q27's gated ANN shape, symmetrized): ends with relation
    * `mu(id_a, id_b)`, id_a < id_b. Shared by the q437/q445/q446 oracles
    * and round 8's graph-walk ANN (q497).
    */
  private[queries] val MutualKnnCte: String = s"""
        WITH e AS (
          SELECT vec_id, label, embedding,
                 sqrt(${duckDot("embedding", "embedding")}) AS nrm
          FROM embeddings
        ), knn AS (
          SELECT q.vec_id AS qid, c.vec_id AS nid,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY ${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm)
                     DESC, c.vec_id) AS rank
          FROM e q JOIN e c ON q.label = c.label AND c.vec_id <> q.vec_id
          QUALIFY rank <= 3
        ), mu AS (
          SELECT a.qid AS id_a, a.nid AS id_b
          FROM knn a JOIN knn b ON b.qid = a.nid AND b.nid = a.qid
          WHERE a.qid < a.nid
        )""".stripMargin.trim

  /** Spark side of [[MutualKnnCte]]: mutual top-3 cosine edges within IVF
    * cells, (id_a, id_b) with id_a < id_b — the reusable operator is
    * [[graft.ext.Similarity.mutualKnnGraph]] (graduated from a private
    * helper here in round 8; spec-pinned in ExtSpec, plan-pinned in
    * PlanQualitySpec). Round 9: reads the MATERIALIZED edge artifact
    * (SharedFrames.mutualKnnEdges — build once per session+corpus, the
    * near-dup-pair precedent); q437 alone keeps computing the
    * construction LIVE via [[mutualKnnEdgesLive]] so the cell-join value
    * gate, plan pin and 10x rehearsal probe stay on the real build.
    */
  private def mutualKnnEdges(s: SparkSession, dir: String): DataFrame =
    SharedFrames.mutualKnnEdges(s, dir)

  private def mutualKnnEdgesLive(s: SparkSession, dir: String): DataFrame =
    graft.ext.Similarity.mutualKnnGraph(
      Tables.embeddings(s, dir), "vec_id", "embedding", "label", k = 3)

  val qs: Seq[Q] = Seq(

    // Duplicate-SPAN scrub — the ExactSubstr-style transform (Lee et al.,
    // "Deduplicating Training Data Makes Language Models Better"): q102
    // MEASURES how much of each document is duplicated 8-gram mass; this
    // REMOVES it — every token position covered by any 8-gram that occurs
    // more than once corpus-wide is dropped, and the scrubbed text is
    // re-emitted (value-gated via its md5, so the transform is bit-exact
    // without shipping megabytes of text through the compare). Distributed
    // shape: gram extraction is a per-row Generate, the duplicate test is
    // one hash aggregate on the gram, coverage is a bounded 8x explode of
    // duplicate starts, and the rebuild is a per-doc sort_array over
    // position-tagged structs — corpus-linear, no all-pairs anywhere.
    Q(
      "q436_dupspan_scrub",
      (s, dir) => {
        val toks = Tables.documents(s, dir)
          .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("w"))
        val pos = toks.select(col("doc_id"), posexplode(col("w")).as(Seq("p", "tok")))
        val starts = toks.filter(size(col("w")) >= 8)
          .select(col("doc_id"), posexplode(col("w")).as(Seq("i", "w1")), col("w"))
          .filter(col("i") <= size(col("w")) - 8)
          .select(col("doc_id"), col("i"),
            array_join(slice(col("w"), col("i") + 1, lit(8)), " ").as("gram"))
        val dupGrams = starts.groupBy("gram").agg(count(lit(1)).as("c"))
          .filter(col("c") > 1).select("gram")
        val covered = starts
          .join(dupGrams.hint("shuffle_hash"), Seq("gram"))
          .select(col("doc_id"), explode(sequence(col("i"), col("i") + 7)).as("p"))
          .distinct()
          .withColumn("__cov", lit(1))
        pos.join(covered.hint("shuffle_hash"), Seq("doc_id", "p"), "left")
          .select(col("doc_id"), col("p"), col("tok"),
            when(col("__cov").isNull, 0L).otherwise(1L).as("covered"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sum(col("covered")).as("n_covered"),
            md5(array_join(transform(
              filter(sort_array(collect_list(struct(col("p"), col("tok"), col("covered")))),
                r => r.getField("covered") === 0),
              r => r.getField("tok")), " ")).as("scrubbed_fp"))
          .select(col("doc_id"), col("n_tokens"), col("n_covered"), col("scrubbed_fp"),
            ((col("n_tokens") - col("n_covered")).cast("double")
              / col("n_tokens").cast("double")).as("keep_frac"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id, $Toks AS w FROM documents
        ), st AS (
          SELECT doc_id, u.i AS i, array_to_string(w[u.i:u.i+7], ' ') AS gram
          FROM t, LATERAL (SELECT unnest(generate_series(1, len(w) - 7)) AS i) u
          WHERE len(w) >= 8
        ), dup AS (
          SELECT gram FROM st GROUP BY gram HAVING COUNT(*) > 1
        ), cov AS (
          SELECT DISTINCT st.doc_id, v.p
          FROM st JOIN dup ON st.gram = dup.gram,
               LATERAL (SELECT unnest(generate_series(st.i, st.i + 7)) AS p) v
        ), pos AS (
          SELECT doc_id, u.p AS p, u.tok AS tok
          FROM t, LATERAL (SELECT unnest(w) AS tok, generate_subscripts(w, 1) AS p) u
        ), fl AS (
          SELECT pos.doc_id AS doc_id, pos.p AS p, pos.tok AS tok,
                 CASE WHEN cov.p IS NULL THEN 0 ELSE 1 END AS covered
          FROM pos LEFT JOIN cov ON cov.doc_id = pos.doc_id AND cov.p = pos.p
        )
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(covered) AS BIGINT) AS n_covered,
               md5(COALESCE(string_agg(tok, ' ' ORDER BY p)
                 FILTER (WHERE covered = 0), '')) AS scrubbed_fp,
               CAST(COUNT(*) - SUM(covered) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                 AS keep_frac
        FROM fl GROUP BY doc_id ORDER BY doc_id
      """.trim)),

    // Link prediction over the mutual-kNN semantic graph — the "which
    // vectors are PROBABLY related but unlinked" ranking that turns a
    // k-NN graph (the SemDeDup / graph-ANN substrate) into a prioritized
    // re-verification queue: for every non-adjacent pair with at least one
    // common neighbor, the common-neighbor count, neighborhood-Jaccard
    // (integer micro floor division), and an Adamic-Adar score where each
    // common neighbor w contributes round(1e6 / ln(deg_w)) — quantized PER
    // TERM, so the sum is an order-free integer aggregate (the q194
    // micro-nat trick). The graph is the MUTUAL top-3 cosine graph within
    // IVF cells (q27's oracle-gated ANN shape, symmetrized): unlike the
    // near-dup pair graph — whose planted clusters are complete cliques
    // with a vacuously empty candidate set — the mutual-kNN graph has the
    // chain structure link prediction exists to close. Distributed shape:
    // cell-bounded kNN, one mutuality self-join, one 2-path hash join
    // (bounded by sum of deg^2, deg <= 3 by construction), one anti join
    // against the edge set, two degree probes. No all-pairs.
    Q(
      "q437_link_prediction",
      (s, dir) => {
        val e = mutualKnnEdgesLive(s, dir)
        val und = e.select(col("id_a").as("u"), col("id_b").as("w"))
          .unionAll(e.select(col("id_b").as("u"), col("id_a").as("w")))
        val deg = und.groupBy("u").agg(count(lit(1)).as("deg"))
          .withColumnRenamed("u", "n")
        val paths = und
          .join(und.select(col("u").as("w"), col("w").as("v")).hint("shuffle_hash"),
            Seq("w"))
          .filter(col("u") < col("v"))
          .join(deg.withColumnRenamed("n", "w").hint("shuffle_hash"), Seq("w"))
          .withColumn("aa_u",
            round(lit(1000000.0) / log(col("deg").cast("double"))).cast("long"))
        val agg = paths.groupBy("u", "v")
          .agg(count(lit(1)).as("cn"), sum(col("aa_u")).as("aa_micro"))
        agg
          .join(e.select(col("id_a").as("u"), col("id_b").as("v")).hint("shuffle_hash"),
            Seq("u", "v"), "left_anti")
          .join(deg.select(col("n").as("u"), col("deg").as("du")).hint("shuffle_hash"),
            Seq("u"))
          .join(deg.select(col("n").as("v"), col("deg").as("dv")).hint("shuffle_hash"),
            Seq("v"))
          .select(col("u").as("id_u"), col("v").as("id_v"), col("cn"),
            expr("(cn * 1000000) div (du + dv - cn)").as("jaccard_micro"),
            col("aa_micro"), col("du").as("deg_u"), col("dv").as("deg_v"))
          .orderBy("id_u", "id_v")
      },
      Some(s"""
        $MutualKnnCte, und AS (
          SELECT id_a AS u, id_b AS w FROM mu
          UNION ALL SELECT id_b AS u, id_a AS w FROM mu
        ), deg AS (
          SELECT u AS n, COUNT(*) AS deg FROM und GROUP BY u
        ), paths AS (
          SELECT l.u AS u, r.w AS v, l.w AS w
          FROM und l JOIN und r ON l.w = r.u
          WHERE l.u < r.w
        ), scored AS (
          SELECT p.u, p.v,
                 CAST(round(1000000.0 / ln(CAST(d.deg AS DOUBLE))) AS BIGINT) AS aa_u
          FROM paths p JOIN deg d ON d.n = p.w
        ), agg AS (
          SELECT u, v, COUNT(*) AS cn, SUM(aa_u) AS aa_micro
          FROM scored GROUP BY u, v
        ), lp_cand AS (
          SELECT a.* FROM agg a
          ANTI JOIN mu e ON e.id_a = a.u AND e.id_b = a.v
        )
        SELECT a.u AS id_u, a.v AS id_v, CAST(a.cn AS BIGINT) AS cn,
               CAST(a.cn * 1000000 // (du.deg + dv.deg - a.cn) AS BIGINT)
                 AS jaccard_micro,
               CAST(a.aa_micro AS BIGINT) AS aa_micro,
               CAST(du.deg AS BIGINT) AS deg_u, CAST(dv.deg AS BIGINT) AS deg_v
        FROM lp_cand a JOIN deg du ON du.n = a.u JOIN deg dv ON dv.n = a.v
        ORDER BY id_u, id_v
      """.trim)),

    // Kneser-Ney continuation smoothing — the bigram LM upgrade over q194's
    // add-one: interpolated KN with absolute discount D = 0.75 (exact in
    // binary), where the backoff weight uses the CONTINUATION count
    // (distinct left contexts of w2, normalized by distinct bigram types) —
    // the smoothing every serious n-gram quality filter uses because raw
    // unigram frequency overweights tokens that only ever follow one
    // context. Everything is integer counts from three hash aggregates; the
    // only doubles are the final fixed IEEE tree
    // (c2-D)/c1 + (D*n_follow/c1)*(n_precede/B), mirrored verbatim. Output
    // restricted to bigrams seen >= 2 times (display bound, stats computed
    // over the full table).
    Q(
      "q438_kneser_ney",
      (s, dir) => {
        val toks = Tables.documents(s, dir)
          .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("w"))
          .filter(size(col("w")) > 1)
        val bigrams = toks
          .select(col("doc_id"), posexplode(col("w")).as(Seq("i", "w1")), col("w"))
          .filter(col("i") < size(col("w")) - 1)
          .select(col("w1"), element_at(col("w"), col("i") + 2).as("w2"))
        val c2 = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
        val c1 = c2.groupBy("w1")
          .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n_follow"))
        val np = c2.groupBy("w2").agg(count(lit(1)).as("n_precede"))
        val b = c2.agg(count(lit(1)).as("n_bigram_types"))
        c2.join(c1.hint("shuffle_hash"), Seq("w1"))
          .join(np.hint("shuffle_hash"), Seq("w2"))
          .crossJoin(broadcast(b))
          .filter(col("c2") >= 2)
          .select(col("w1"), col("w2"), col("c2"), col("c1"),
            col("n_follow"), col("n_precede"),
            ((col("c2").cast("double") - lit(0.75)) / col("c1").cast("double")
              + (lit(0.75) * col("n_follow").cast("double") / col("c1").cast("double"))
                * (col("n_precede").cast("double")
                  / col("n_bigram_types").cast("double"))).as("p_kn"))
          .orderBy("w1", "w2")
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id, $Toks AS w FROM documents
        ), tt AS (
          SELECT doc_id, w FROM t WHERE len(w) > 1
        ), big AS (
          SELECT unnest([w[i] FOR i IN generate_series(1, len(w) - 1)]) AS w1,
                 unnest([w[i + 1] FOR i IN generate_series(1, len(w) - 1)]) AS w2
          FROM tt
        ), c2 AS (
          SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY w1, w2
        ), c1 AS (
          SELECT w1, SUM(c2) AS c1, COUNT(*) AS n_follow FROM c2 GROUP BY w1
        ), np AS (
          SELECT w2, COUNT(*) AS n_precede FROM c2 GROUP BY w2
        ), b AS (
          SELECT COUNT(*) AS n_bigram_types FROM c2
        )
        SELECT c2.w1 AS w1, c2.w2 AS w2, CAST(c2.c2 AS BIGINT) AS c2,
               CAST(c1.c1 AS BIGINT) AS c1,
               CAST(c1.n_follow AS BIGINT) AS n_follow,
               CAST(np.n_precede AS BIGINT) AS n_precede,
               (CAST(c2.c2 AS DOUBLE) - CAST(0.75 AS DOUBLE)) / CAST(c1.c1 AS DOUBLE)
                 + (CAST(0.75 AS DOUBLE) * CAST(c1.n_follow AS DOUBLE)
                     / CAST(c1.c1 AS DOUBLE))
                   * (CAST(np.n_precede AS DOUBLE) / CAST(b.n_bigram_types AS DOUBLE))
                 AS p_kn
        FROM c2 JOIN c1 ON c2.w1 = c1.w1 JOIN np ON c2.w2 = np.w2 CROSS JOIN b
        WHERE c2.c2 >= 2
        ORDER BY w1, w2
      """.trim)),

    // Token-budget corpus selection — the "fit the best N tokens" step of
    // mixture construction: within each source, documents are ranked by
    // integer-quantized quality (floor(quality * 1e6) — the q90
    // convention), and the greedy prefix whose CUMULATIVE token count stays
    // under the source's budget (half its total tokens) is selected. The
    // running total is an exclusive-preceding-rows window PARTITIONED by
    // source under a total order (prio desc, doc_id) — deterministic in
    // both engines; at 100 TB a low-cardinality source partition would move
    // to the two-phase prefix-sum shape (Keys.scala), same semantics.
    Q(
      "q439_budget_select",
      (s, dir) => {
        val d = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), TextAnalysis.tokens(col("text")).as("__w"))
          .select(col("doc_id"), col("source"),
            size(col("__w")).cast("long").as("n_tok"),
            floor(TextAnalysis.qualityScore(col("__w")) * 1000000.0).cast("long")
              .as("prio"))
        val w = Window.partitionBy("source")
          .orderBy(col("prio").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val tot = d.groupBy("source").agg(sum(col("n_tok")).as("tot_tok"))
        d.withColumn("cum_before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
          .join(tot.hint("shuffle_hash"), Seq("source"))
          .select(col("doc_id"), col("source"), col("n_tok"), col("prio"),
            col("cum_before"), expr("tot_tok div 2").as("budget"),
            when(col("cum_before") < expr("tot_tok div 2"), 1L).otherwise(0L)
              .as("selected"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH base AS (
          SELECT doc_id, source, $Toks AS w FROM documents
        ), feat AS (
          SELECT doc_id, source,
                 CAST(len(w) AS BIGINT) AS n_tok,
                 CAST(len(w) AS INTEGER) AS n_tokens,
                 len(list_filter(w, t -> t IN (${ExtQueries.StopList}))) AS n_stop,
                 CAST(list_sum([length(t) FOR t IN w]) AS DOUBLE) AS sum_len
          FROM base
        ), d AS (
          SELECT doc_id, source, n_tok,
                 CAST(floor((
                   0.5 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
                   + 0.3 * (CASE WHEN n_tokens = 0 THEN 0.0
                                 ELSE CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) END)
                   + 0.2 * least((CASE WHEN n_tokens = 0 THEN 0.0
                                       ELSE sum_len / CAST(n_tokens AS DOUBLE) END) / 8.0, 1.0)
                 ) * 1000000.0) AS BIGINT) AS prio
          FROM feat
        ), c AS (
          SELECT doc_id, source, n_tok, prio,
                 COALESCE(SUM(n_tok) OVER (PARTITION BY source
                   ORDER BY prio DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
          FROM d
        ), t AS (
          SELECT source, SUM(n_tok) AS tot_tok FROM d GROUP BY source
        )
        SELECT c.doc_id, c.source, c.n_tok, c.prio,
               CAST(c.cum_before AS BIGINT) AS cum_before,
               CAST(t.tot_tok // 2 AS BIGINT) AS budget,
               CAST(CASE WHEN c.cum_before < t.tot_tok // 2 THEN 1 ELSE 0 END
                 AS BIGINT) AS selected
        FROM c JOIN t ON t.source = c.source
        ORDER BY doc_id
      """.trim)),

    // l-diversity audit — the attribute-disclosure check k-anonymity (q239)
    // misses: a metadata cell can hold >= k documents yet still leak the
    // sensitive attribute if they all share one value. Per
    // (lang, length-band) equivalence class: size k, distinct sensitive
    // values (source), the 2-diverse flag, and entropy l-diversity with the
    // per-term micro-nat quantization (round((-c/k)*ln(c/k)*1e6) per
    // (class, source) — integer before the order-free sum, the q194 trick).
    // Two hash aggregates plus one class-keyed join; no shuffle hazards.
    Q(
      "q440_l_diversity",
      (s, dir) => {
        val sc = Tables.documents(s, dir)
          .select(col("lang"), expr("n_chars div 200").as("len_band"), col("source"))
          .groupBy("lang", "len_band", "source").agg(count(lit(1)).as("c"))
        val k = sc.groupBy("lang", "len_band")
          .agg(sum(col("c")).as("k"), count(lit(1)).as("l_distinct"))
        sc.join(k.hint("shuffle_hash"), Seq("lang", "len_band"))
          .withColumn("term",
            round((lit(0.0) - col("c").cast("double") / col("k").cast("double"))
              * log(col("c").cast("double") / col("k").cast("double"))
              * lit(1000000.0)).cast("long"))
          .groupBy("lang", "len_band")
          .agg(max(col("k")).as("k"), max(col("l_distinct")).as("l_distinct"),
            sum(col("term")).as("entropy_micro"))
          .select(col("lang"), col("len_band"), col("k"), col("l_distinct"),
            col("entropy_micro"),
            when(col("l_distinct") >= 2, 1L).otherwise(0L).as("l2_ok"))
          .orderBy("lang", "len_band")
      },
      Some("""
        WITH sc AS (
          SELECT lang, n_chars // 200 AS len_band, source, COUNT(*) AS c
          FROM documents GROUP BY 1, 2, 3
        ), k AS (
          SELECT lang, len_band, SUM(c) AS k, COUNT(*) AS l_distinct
          FROM sc GROUP BY 1, 2
        ), terms AS (
          SELECT sc.lang, sc.len_band, k.k, k.l_distinct,
                 CAST(round((0.0 - CAST(sc.c AS DOUBLE) / CAST(k.k AS DOUBLE))
                   * ln(CAST(sc.c AS DOUBLE) / CAST(k.k AS DOUBLE))
                   * 1000000.0) AS BIGINT) AS term
          FROM sc JOIN k ON sc.lang = k.lang AND sc.len_band = k.len_band
        )
        SELECT lang, len_band, CAST(MAX(k) AS BIGINT) AS k,
               CAST(MAX(l_distinct) AS BIGINT) AS l_distinct,
               CAST(SUM(term) AS BIGINT) AS entropy_micro,
               CAST(CASE WHEN MAX(l_distinct) >= 2 THEN 1 ELSE 0 END AS BIGINT)
                 AS l2_ok
        FROM terms GROUP BY lang, len_band ORDER BY lang, len_band
      """.trim)),

    // ROUGE pair scoring — clipped n-gram precision/recall/F1 over the
    // verified near-dup pairs: the summarization-style overlap metric that
    // grades HOW documents overlap (verbatim mass vs scattered tokens)
    // where jaccard only grades THAT they do. Clipped counts are the real
    // ROUGE definition (per-gram min of the two documents' counts — a
    // multiset intersection, not the set intersection the dedup path uses).
    // Work is bounded by the pair set: gram tables are semi-joined to pair
    // members before the per-pair join; F1 = 2*ov/(ta+tb) needs ONE
    // division (P and R share numerator). Bigram totals can be zero
    // (one-token docs) — guarded identically in both engines.
    Q(
      "q441_rouge_pairs",
      (s, dir) => {
        val pairs = SharedFrames.verifiedDocPairs(s, dir).select("id_a", "id_b")
        val ids = pairs.select(col("id_a").as("doc_id"))
          .unionAll(pairs.select(col("id_b").as("doc_id"))).distinct()
        val toks = Tables.documents(s, dir)
          .join(ids.hint("shuffle_hash"), Seq("doc_id"), "left_semi")
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("w"))
        val uni = toks.select(col("doc_id"), explode(col("w")).as("g"))
          .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        val bi = toks.filter(size(col("w")) > 1)
          .select(col("doc_id"), posexplode(col("w")).as(Seq("i", "w1")), col("w"))
          .filter(col("i") < size(col("w")) - 1)
          .select(col("doc_id"),
            concat_ws(" ", col("w1"), element_at(col("w"), col("i") + 2)).as("g"))
          .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        def metrics(gr: DataFrame, pfx: String): DataFrame = {
          val tot = gr.groupBy("doc_id").agg(sum(col("c")).as("tot"))
          val ov = pairs
            .join(gr.select(col("doc_id").as("id_a"), col("g"), col("c").as("ca"))
              .hint("shuffle_hash"), Seq("id_a"))
            .join(gr.select(col("doc_id").as("id_b"), col("g"), col("c").as("cb"))
              .hint("shuffle_hash"), Seq("id_b", "g"))
            .groupBy("id_a", "id_b").agg(sum(least(col("ca"), col("cb"))).as("ov"))
          pairs
            .join(ov.hint("shuffle_hash"), Seq("id_a", "id_b"), "left")
            .join(tot.select(col("doc_id").as("id_a"), col("tot").as("ta"))
              .hint("shuffle_hash"), Seq("id_a"), "left")
            .join(tot.select(col("doc_id").as("id_b"), col("tot").as("tb"))
              .hint("shuffle_hash"), Seq("id_b"), "left")
            .select(col("id_a"), col("id_b"),
              coalesce(col("ov"), lit(0L)).as(s"${pfx}_ov"),
              coalesce(col("ta"), lit(0L)).as(s"${pfx}_ta"),
              coalesce(col("tb"), lit(0L)).as(s"${pfx}_tb"))
        }
        metrics(uni, "rouge1").join(metrics(bi, "rouge2"), Seq("id_a", "id_b"))
          .select(col("id_a"), col("id_b"),
            col("rouge1_ov"), col("rouge1_ta"), col("rouge1_tb"),
            // Zero guards on ALL the divisions, not just rouge2_f: a
            // zero-token side is unreachable with minhash-verified pairs,
            // but NaN-in-Spark vs NULL-in-DuckDB is exactly the latent
            // divergence class the guard-identically discipline exists for
            // (ADVICE r7).
            when(col("rouge1_ta") > 0,
              col("rouge1_ov").cast("double") / col("rouge1_ta").cast("double"))
              .otherwise(lit(0.0)).as("rouge1_p"),
            when(col("rouge1_tb") > 0,
              col("rouge1_ov").cast("double") / col("rouge1_tb").cast("double"))
              .otherwise(lit(0.0)).as("rouge1_r"),
            when(col("rouge1_ta") + col("rouge1_tb") > 0,
              (lit(2L) * col("rouge1_ov")).cast("double")
                / (col("rouge1_ta") + col("rouge1_tb")).cast("double"))
              .otherwise(lit(0.0)).as("rouge1_f"),
            col("rouge2_ov"),
            when(col("rouge2_ta") + col("rouge2_tb") > 0,
              (lit(2L) * col("rouge2_ov")).cast("double")
                / (col("rouge2_ta") + col("rouge2_tb")).cast("double"))
              .otherwise(lit(0.0)).as("rouge2_f"))
          .orderBy("id_a", "id_b")
      },
      Some(s"""
        ${ExtQueries.MinhashPairsCte}, tk AS (
          SELECT doc_id, $Toks AS w FROM documents
        ), uni AS (
          SELECT doc_id, u.tok AS g, COUNT(*) AS c
          FROM tk, LATERAL (SELECT unnest(w) AS tok) u
          GROUP BY doc_id, u.tok
        ), bi AS (
          SELECT doc_id, u.g AS g, COUNT(*) AS c
          FROM tk, LATERAL (
            SELECT unnest([array_to_string(w[i:i+1], ' ')
                           FOR i IN generate_series(1, len(w) - 1)]) AS g) u
          WHERE len(w) > 1
          GROUP BY doc_id, u.g
        ), ut AS (
          SELECT doc_id, SUM(c) AS tot FROM uni GROUP BY doc_id
        ), bt AS (
          SELECT doc_id, SUM(c) AS tot FROM bi GROUP BY doc_id
        ), uov AS (
          SELECT v.id_a, v.id_b, SUM(LEAST(a.c, b.c)) AS ov
          FROM verified v
          JOIN uni a ON a.doc_id = v.id_a
          JOIN uni b ON b.doc_id = v.id_b AND b.g = a.g
          GROUP BY v.id_a, v.id_b
        ), bov AS (
          SELECT v.id_a, v.id_b, SUM(LEAST(a.c, b.c)) AS ov
          FROM verified v
          JOIN bi a ON a.doc_id = v.id_a
          JOIN bi b ON b.doc_id = v.id_b AND b.g = a.g
          GROUP BY v.id_a, v.id_b
        )
        SELECT v.id_a AS id_a, v.id_b AS id_b,
               CAST(COALESCE(uov.ov, 0) AS BIGINT) AS rouge1_ov,
               CAST(COALESCE(uta.tot, 0) AS BIGINT) AS rouge1_ta,
               CAST(COALESCE(utb.tot, 0) AS BIGINT) AS rouge1_tb,
               CASE WHEN COALESCE(uta.tot, 0) > 0
                    THEN CAST(COALESCE(uov.ov, 0) AS DOUBLE)
                      / CAST(COALESCE(uta.tot, 0) AS DOUBLE)
                    ELSE 0.0 END AS rouge1_p,
               CASE WHEN COALESCE(utb.tot, 0) > 0
                    THEN CAST(COALESCE(uov.ov, 0) AS DOUBLE)
                      / CAST(COALESCE(utb.tot, 0) AS DOUBLE)
                    ELSE 0.0 END AS rouge1_r,
               CASE WHEN COALESCE(uta.tot, 0) + COALESCE(utb.tot, 0) > 0
                    THEN CAST(2 * COALESCE(uov.ov, 0) AS DOUBLE)
                      / CAST(COALESCE(uta.tot, 0) + COALESCE(utb.tot, 0) AS DOUBLE)
                    ELSE 0.0 END AS rouge1_f,
               CAST(COALESCE(bov.ov, 0) AS BIGINT) AS rouge2_ov,
               CASE WHEN COALESCE(bta.tot, 0) + COALESCE(btb.tot, 0) > 0
                    THEN CAST(2 * COALESCE(bov.ov, 0) AS DOUBLE)
                      / CAST(COALESCE(bta.tot, 0) + COALESCE(btb.tot, 0) AS DOUBLE)
                    ELSE 0.0 END AS rouge2_f
        FROM verified v
        LEFT JOIN uov ON uov.id_a = v.id_a AND uov.id_b = v.id_b
        LEFT JOIN bov ON bov.id_a = v.id_a AND bov.id_b = v.id_b
        LEFT JOIN ut uta ON uta.doc_id = v.id_a
        LEFT JOIN ut utb ON utb.doc_id = v.id_b
        LEFT JOIN bt bta ON bta.doc_id = v.id_a
        LEFT JOIN bt btb ON btb.doc_id = v.id_b
        ORDER BY id_a, id_b
      """.trim)),

    // Sorted-neighborhood linkage — the OTHER classic blocking family:
    // q86's prefix blocking needs a reliable key; sorted-neighborhood (SNM)
    // instead sorts by a fuzzy key and compares each record to its next w
    // neighbors IN SORT ORDER, catching near-matches whose exact block keys
    // differ. Here: part names sorted within a first-word partition, window
    // w = 2 via lead() (a PARTITIONED window under a total order —
    // deterministic, and the partition bounds the sort the way SNM's
    // sliding window bounds comparisons), Levenshtein verify <= 15. The
    // per-engine Levenshtein implementations agree exactly (unit-cost
    // edits), so the distance column itself is hash-gated.
    Q(
      "q442_snm_linkage",
      (s, dir) => {
        val p = Tables.part(s, dir).select(col("p_partkey"), col("p_name"))
          .withColumn("blk", substring_index(col("p_name"), " ", 1))
        val w = Window.partitionBy("blk").orderBy(col("p_name"), col("p_partkey"))
        val nb = p.select(col("p_partkey"), col("p_name"),
          lead(col("p_partkey"), 1).over(w).as("k1"),
          lead(col("p_name"), 1).over(w).as("n1"),
          lead(col("p_partkey"), 2).over(w).as("k2"),
          lead(col("p_name"), 2).over(w).as("n2"))
        nb.select(col("p_partkey").as("key_a"), col("p_name").as("name_a"),
            col("k1").as("key_b"), col("n1").as("name_b"))
          .unionAll(nb.select(col("p_partkey").as("key_a"), col("p_name").as("name_a"),
            col("k2").as("key_b"), col("n2").as("name_b")))
          .filter(col("key_b").isNotNull)
          .select(col("key_a"), col("key_b"),
            levenshtein(col("name_a"), col("name_b")).as("distance"))
          .filter(col("distance") <= 15)
          .orderBy("key_a", "key_b")
      },
      Some("""
        WITH p AS (
          SELECT p_partkey, p_name, string_split(p_name, ' ')[1] AS blk FROM part
        ), nb AS (
          SELECT p_partkey, p_name,
                 lead(p_partkey, 1) OVER w AS k1, lead(p_name, 1) OVER w AS n1,
                 lead(p_partkey, 2) OVER w AS k2, lead(p_name, 2) OVER w AS n2
          FROM p WINDOW w AS (PARTITION BY blk ORDER BY p_name, p_partkey)
        ), pr AS (
          SELECT p_partkey AS key_a, p_name AS name_a, k1 AS key_b, n1 AS name_b
          FROM nb
          UNION ALL
          SELECT p_partkey, p_name, k2, n2 FROM nb
        )
        SELECT key_a, key_b,
               CAST(levenshtein(name_a, name_b) AS INTEGER) AS distance
        FROM pr
        WHERE key_b IS NOT NULL AND levenshtein(name_a, name_b) <= 15
        ORDER BY key_a, key_b
      """.trim)),

    // Tokenizer fertility audit — the "how many model tokens does this
    // corpus cost" planning number: per source, whitespace-token vs BPE-ish
    // pre-token counts (the GPT-2 pre-split regex already in
    // TextAnalysis.bpeTokenCount), byte volume, and the two planning
    // ratios — fertility (BPE tokens per whitespace token) and bytes per
    // BPE token. Pure map-side expressions into one hash aggregate;
    // integer sums, two final fixed divisions.
    Q(
      "q443_tokenizer_fertility",
      (s, dir) => Tables.documents(s, dir)
        .select(col("source"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("ws"),
          TextAnalysis.bpeTokenCount(col("text")).cast("long").as("bpe"),
          octet_length(col("text")).cast("long").as("nb"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("ws")).as("ws_tokens"),
          sum(col("bpe")).as("bpe_tokens"), sum(col("nb")).as("n_bytes"))
        .select(col("source"), col("n_docs"), col("ws_tokens"), col("bpe_tokens"),
          col("n_bytes"),
          (col("bpe_tokens").cast("double") / col("ws_tokens").cast("double"))
            .as("fertility"),
          (col("n_bytes").cast("double") / col("bpe_tokens").cast("double"))
            .as("bytes_per_bpe"))
        .orderBy("source"),
      Some(s"""
        WITH d AS (
          SELECT source,
                 CAST(len($Toks) AS BIGINT) AS ws,
                 CAST(len(regexp_extract_all(lower(text),
                   '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS bpe,
                 CAST(octet_length(encode(text)) AS BIGINT) AS nb
          FROM documents
        )
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(ws) AS BIGINT) AS ws_tokens,
               CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
               CAST(SUM(nb) AS BIGINT) AS n_bytes,
               CAST(SUM(bpe) AS DOUBLE) / CAST(SUM(ws) AS DOUBLE) AS fertility,
               CAST(SUM(nb) AS DOUBLE) / CAST(SUM(bpe) AS DOUBLE) AS bytes_per_bpe
        FROM d GROUP BY source ORDER BY source
      """.trim)),

    // k-truss decomposition (k=3) of the verified near-dup graph — the
    // EDGE-level peeling that completes q435's node-level k-core: an edge
    // survives the 3-truss iff it participates in a triangle within the
    // surviving subgraph (support >= k-2 = 1), under iterative peeling
    // (removing an edge can orphan others). Cliques keep every edge;
    // chains and stars keep none — the edge-granular "is this duplication
    // family structurally dense" signal. Fixed 4 peel rounds (each a
    // support join bounded by degree like q195's triangle enumeration,
    // localCheckpoint lineage discipline); output = every ORIGINAL edge
    // with its initial support and final truss membership, plus a
    // CONVERGED flag the oracle hardcodes at 1 (the enforced-gate q435
    // convention). Oracle = 4 unrolled MATERIALIZED rounds.
    Q(
      "q444_ktruss",
      (s, dir) => {
        val rounds = 4
        def support(e: DataFrame): DataFrame = {
          val und = e.select(col("a").as("u"), col("b").as("w"))
            .unionAll(e.select(col("b").as("u"), col("a").as("w")))
          e.join(und.select(col("u").as("a"), col("w").as("wa")).hint("shuffle_hash"),
              Seq("a"))
            .join(und.select(col("u").as("b"), col("w").as("wb")).hint("shuffle_hash"),
              Seq("b"))
            .filter(col("wa") === col("wb"))
            .groupBy("a", "b").agg(count(lit(1)).as("sup"))
        }
        val e0 = SharedFrames.verifiedDocPairs(s, dir)
          .select(col("id_a").as("a"), col("id_b").as("b"))
        var e = e0
        for (_ <- 1 to rounds)
          e = e.join(support(e).filter(col("sup") >= 1).select("a", "b")
              .hint("shuffle_hash"), Seq("a", "b"), "left_semi")
            // materialize: loop — each truss round reads the previous round's edges
            .localCheckpoint()
        val converged = e.join(support(e).filter(col("sup") >= 1).select("a", "b")
            .hint("shuffle_hash"), Seq("a", "b"), "left_anti")
          .agg(count(lit(1)).as("n_bad"))
          .select(when(col("n_bad") === 0, 1L).otherwise(0L).as("converged"))
        e0.join(support(e0).hint("shuffle_hash"), Seq("a", "b"), "left")
          .join(e.withColumn("__in", lit(1)).hint("shuffle_hash"),
            Seq("a", "b"), "left")
          .select(col("a").as("id_a"), col("b").as("id_b"),
            coalesce(col("sup"), lit(0L)).as("support0"),
            when(col("__in").isNull, 0L).otherwise(1L).as("in_truss"))
          .crossJoin(broadcast(converged))
          .orderBy("id_a", "id_b")
      },
      Some {
        val rounds = 4
        val sb = new StringBuilder
        sb ++= s"${ExtQueries.MinhashPairsCte}, e0 AS MATERIALIZED (\n"
        sb ++= "          SELECT id_a AS a, id_b AS b FROM verified\n        )"
        for (i <- 1 to rounds) {
          sb ++= s""", u${i - 1} AS MATERIALIZED (
          SELECT a AS u, b AS w FROM e${i - 1}
          UNION ALL SELECT b AS u, a AS w FROM e${i - 1}
        ), e$i AS MATERIALIZED (
          SELECT e.a, e.b FROM e${i - 1} e
          JOIN u${i - 1} ua ON ua.u = e.a
          JOIN u${i - 1} ub ON ub.u = e.b AND ub.w = ua.w
          GROUP BY e.a, e.b HAVING COUNT(*) >= 1
        )"""
        }
        sb ++= s""", s0 AS (
          SELECT e.a, e.b, COUNT(*) AS sup FROM e0 e
          JOIN u0 ua ON ua.u = e.a
          JOIN u0 ub ON ub.u = e.b AND ub.w = ua.w
          GROUP BY e.a, e.b
        )
        SELECT e0.a AS id_a, e0.b AS id_b,
               CAST(COALESCE(s0.sup, 0) AS BIGINT) AS support0,
               CAST(CASE WHEN f.a IS NULL THEN 0 ELSE 1 END AS BIGINT) AS in_truss,
               CAST(1 AS BIGINT) AS converged
        FROM e0
        LEFT JOIN s0 ON s0.a = e0.a AND s0.b = e0.b
        LEFT JOIN e$rounds f ON f.a = e0.a AND f.b = e0.b
        ORDER BY id_a, id_b"""
        sb.toString.trim
      }),

    // Link-prediction HOLDOUT evaluation — the protocol that grades q437's
    // scores: hold out ~30% of the mutual-kNN edges by deterministic hash,
    // compute 2-path candidates on the TRAINING graph only, and label each
    // candidate as a held-out true edge or not; the single-row recall
    // summary (held-out edges recovered / held-out total) rides a
    // broadcast. This is the standard graph-ML eval loop expressed as one
    // deterministic dataflow — no RNG, so the split and therefore every
    // score is engine-reproducible.
    Q(
      "q445_linkpred_holdout",
      (s, dir) => {
        val mu = mutualKnnEdges(s, dir).withColumn("__h",
          pmod(graft.ext.TextHash.hash60(
            concat_ws(":", col("id_a"), col("id_b"))), lit(10L)))
        val train = mu.filter(col("__h") >= 3).select("id_a", "id_b")
        val held = mu.filter(col("__h") < 3).select("id_a", "id_b")
        val und = train.select(col("id_a").as("u"), col("id_b").as("w"))
          .unionAll(train.select(col("id_b").as("u"), col("id_a").as("w")))
        val cand = und
          .join(und.select(col("u").as("w"), col("w").as("v")).hint("shuffle_hash"),
            Seq("w"))
          .filter(col("u") < col("v"))
          .groupBy("u", "v").agg(count(lit(1)).as("cn"))
          .join(train.select(col("id_a").as("u"), col("id_b").as("v"))
            .hint("shuffle_hash"), Seq("u", "v"), "left_anti")
        val labeled = cand
          .join(held.select(col("id_a").as("u"), col("id_b").as("v"))
            .withColumn("__t", lit(1)).hint("shuffle_hash"), Seq("u", "v"), "left")
          .select(col("u").as("id_u"), col("v").as("id_v"), col("cn"),
            when(col("__t").isNull, 0L).otherwise(1L).as("is_held_edge"))
        val summary = labeled.agg(
            count(lit(1)).as("n_candidates"),
            coalesce(sum(col("is_held_edge")), lit(0L)).as("n_recovered"))
          .crossJoin(broadcast(held.agg(count(lit(1)).as("n_held"))))
          .select(col("n_candidates"), col("n_recovered"), col("n_held"),
            when(col("n_held") > 0,
              col("n_recovered").cast("double") / col("n_held").cast("double"))
              .otherwise(lit(0.0)).as("recall"))
        labeled.crossJoin(broadcast(summary)).orderBy("id_u", "id_v")
      },
      Some(s"""
        $MutualKnnCte, hm AS (
          SELECT id_a, id_b,
                 ${graft.ext.TextHash.duckHash60(
                   "CAST(id_a AS VARCHAR) || ':' || CAST(id_b AS VARCHAR)")} % 10 AS h
          FROM mu
        ), train AS (
          SELECT id_a, id_b FROM hm WHERE h >= 3
        ), held AS (
          SELECT id_a, id_b FROM hm WHERE h < 3
        ), und AS (
          SELECT id_a AS u, id_b AS w FROM train
          UNION ALL SELECT id_b AS u, id_a AS w FROM train
        ), cand AS (
          SELECT c.u, c.v, c.cn FROM (
            SELECT l.u AS u, r.w AS v, COUNT(*) AS cn
            FROM und l JOIN und r ON l.w = r.u
            WHERE l.u < r.w GROUP BY l.u, r.w) c
          ANTI JOIN train t ON t.id_a = c.u AND t.id_b = c.v
        ), labeled AS (
          SELECT c.u AS id_u, c.v AS id_v, c.cn,
                 CASE WHEN h.id_a IS NULL THEN 0 ELSE 1 END AS is_held_edge
          FROM cand c LEFT JOIN held h ON h.id_a = c.u AND h.id_b = c.v
        ), summary AS (
          SELECT (SELECT COUNT(*) FROM labeled) AS n_candidates,
                 (SELECT COALESCE(SUM(is_held_edge), 0) FROM labeled) AS n_recovered,
                 (SELECT COUNT(*) FROM held) AS n_held
        )
        SELECT l.id_u, l.id_v, CAST(l.cn AS BIGINT) AS cn,
               CAST(l.is_held_edge AS BIGINT) AS is_held_edge,
               CAST(s.n_candidates AS BIGINT) AS n_candidates,
               CAST(s.n_recovered AS BIGINT) AS n_recovered,
               CAST(s.n_held AS BIGINT) AS n_held,
               CASE WHEN s.n_held > 0
                    THEN CAST(s.n_recovered AS DOUBLE) / CAST(s.n_held AS DOUBLE)
                    ELSE 0.0 END AS recall
        FROM labeled l CROSS JOIN summary s
        ORDER BY id_u, id_v
      """.trim)),

    // Neighborhood function N(h) over the mutual-kNN graph — the
    // ANF/effective-diameter diagnostic: how many vertex pairs are within
    // h hops, for h = 1..3. A fast-saturating curve means tight semantic
    // pockets (dedup-friendly); a slow one means drifting chains. The
    // frontier expansion is bounded by the mutual-kNN degree cap (<= 3),
    // so each round multiplies reach by at most deg — the shape that
    // survives scale where a general transitive closure would not; each
    // round is one hash join + distinct with localCheckpoint lineage
    // discipline. Oracle = unrolled MATERIALIZED rounds.
    Q(
      "q446_neighborhood_function",
      (s, dir) => {
        val mu = mutualKnnEdges(s, dir)
        val und = mu.select(col("id_a").as("u"), col("id_b").as("v"))
          .unionAll(mu.select(col("id_b").as("u"), col("id_a").as("v")))
        // materialize: loop — the hop-1 reach set that each later hop extends
        var reach = und.distinct().localCheckpoint()
        val counts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
        counts += reach.filter(col("u") < col("v"))
          .agg(count(lit(1)).as("n_pairs")).select(lit(1).as("h"), col("n_pairs"))
        for (h <- 2 to 3) {
          reach = reach
            .unionAll(reach
              .join(und.select(col("u").as("v"), col("v").as("x"))
                .hint("shuffle_hash"), Seq("v"))
              .select(col("u"), col("x").as("v"))
              .filter(col("u") =!= col("v")))
            // materialize: loop — each hop extends the previous hop's reach set
            .distinct().localCheckpoint()
          counts += reach.filter(col("u") < col("v"))
            .agg(count(lit(1)).as("n_pairs")).select(lit(h).as("h"), col("n_pairs"))
        }
        val c = counts.reduce(_ unionAll _)
        // delta vs h-1 via a 3-row self-join (NOT an unpartitioned window)
        c.join(c.select((col("h") + 1).as("h"), col("n_pairs").as("__prev")),
            Seq("h"), "left")
          .select(col("h"), col("n_pairs"),
            (col("n_pairs") - coalesce(col("__prev"), lit(0L))).as("n_new_pairs"))
          .orderBy("h")
      },
      Some(s"""
        $MutualKnnCte, r1 AS MATERIALIZED (
          SELECT id_a AS u, id_b AS v FROM mu
          UNION SELECT id_b AS u, id_a AS v FROM mu
        ), r2 AS MATERIALIZED (
          SELECT u, v FROM r1
          UNION
          SELECT r.u, e.v FROM r1 r JOIN r1 e ON e.u = r.v WHERE r.u <> e.v
        ), r3 AS MATERIALIZED (
          SELECT u, v FROM r2
          UNION
          SELECT r.u, e.v FROM r2 r JOIN r1 e ON e.u = r.v WHERE r.u <> e.v
        ), counts AS (
          SELECT 1 AS h, COUNT(*) AS n_pairs FROM r1 WHERE u < v
          UNION ALL
          SELECT 2 AS h, COUNT(*) AS n_pairs FROM r2 WHERE u < v
          UNION ALL
          SELECT 3 AS h, COUNT(*) AS n_pairs FROM r3 WHERE u < v
        )
        SELECT CAST(c.h AS INTEGER) AS h, CAST(c.n_pairs AS BIGINT) AS n_pairs,
               CAST(c.n_pairs - COALESCE(p.n_pairs, 0) AS BIGINT) AS n_new_pairs
        FROM counts c LEFT JOIN counts p ON p.h = c.h - 1
        ORDER BY h
      """.trim)),

    // Temperature-sampling mixture weights — the multilingual-pretraining
    // rebalancing rule (weights proportional to n^(1/T), T = 2 so the
    // exponent is 1/2 = sqrt, which IEEE 754 defines EXACTLY — the one
    // fractional power with no transcendental hazard): q204 plans an
    // equal-share cap; this upsamples low-resource sources smoothly.
    // Per-source sqrt quantized to integer milli-units BEFORE the
    // cross-source sum (order-free), one double division for the weight,
    // planned tokens via floor(weight * budget) in doubles (exact for any
    // budget < 2^53 — i.e. any real corpus), epochs in integer micro-units.
    Q(
      "q447_temperature_mixture",
      (s, dir) => {
        val t = Tables.documents(s, dir)
          .select(col("source"),
            size(TextAnalysis.tokens(col("text"))).cast("long").as("n"))
          .groupBy("source").agg(sum(col("n")).as("n_tokens"))
          .withColumn("sq_milli",
            round(sqrt(col("n_tokens").cast("double")) * 1000.0).cast("long"))
        val tot = t.agg(sum(col("sq_milli")).as("tot_sq"),
          sum(col("n_tokens")).as("total"))
        t.crossJoin(broadcast(tot))
          .withColumn("budget", expr("total div 2"))
          .withColumn("weight",
            col("sq_milli").cast("double") / col("tot_sq").cast("double"))
          .withColumn("planned_tokens",
            floor(col("weight") * col("budget").cast("double")).cast("long"))
          .select(col("source"), col("n_tokens"), col("sq_milli"), col("budget"),
            col("weight"), col("planned_tokens"),
            expr("planned_tokens * 1000000 div n_tokens").as("epochs_micro"))
          .orderBy("source")
      },
      Some(s"""
        WITH t AS (
          SELECT source, CAST(SUM(len($Toks)) AS BIGINT) AS n_tokens
          FROM documents GROUP BY source
        ), q AS (
          SELECT source, n_tokens,
                 CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1000.0) AS BIGINT)
                   AS sq_milli
          FROM t
        ), tot AS (
          SELECT CAST(SUM(sq_milli) AS BIGINT) AS tot_sq,
                 CAST(SUM(n_tokens) AS BIGINT) AS total
          FROM q
        )
        SELECT source, n_tokens, sq_milli,
               CAST(total // 2 AS BIGINT) AS budget,
               CAST(sq_milli AS DOUBLE) / CAST(tot_sq AS DOUBLE) AS weight,
               CAST(floor((CAST(sq_milli AS DOUBLE) / CAST(tot_sq AS DOUBLE))
                 * CAST(total // 2 AS DOUBLE)) AS BIGINT) AS planned_tokens,
               CAST(CAST(floor((CAST(sq_milli AS DOUBLE) / CAST(tot_sq AS DOUBLE))
                 * CAST(total // 2 AS DOUBLE)) AS BIGINT) * 1000000 // n_tokens
                 AS BIGINT) AS epochs_micro
        FROM q CROSS JOIN tot ORDER BY source
      """.trim)),


    // Parquet BLOOM FILTER write gate — the storage-side point-lookup
    // accelerator (q398 gates the RUNTIME bloom-join seam; this gates the
    // PERSISTED one): writing with parquet.bloom.filter.enabled#o_custkey
    // puts a bloom filter in each row group's column chunk, which is what
    // lets a 100 TB scan skip row groups on key equality without reading
    // data pages. The builder PROVES the filter landed by inspecting the
    // raw footer (bloomFilterOffset >= 0 for the column chunk — the q432
    // footer-proof convention), then value-gates a point-lookup aggregate
    // over the read-back against the original table.
    Q(
      "q448_parquet_bloom_gate",
      (s, dir) => {
        val path = graft.engine.Scratch.dir(s, dir, "bloom_gate")
        Tables.orders(s, dir)
          .write.mode("overwrite")
          .option("parquet.bloom.filter.enabled#o_custkey", "true")
          .option("parquet.bloom.filter.expected.ndv#o_custkey", "20000")
          // parquet-mr skips the bloom filter when the chunk stays fully
          // dictionary-encoded (the dictionary is already an exact filter);
          // force the data-page path for this column so the bloom actually
          // lands — at real scale a 20k-NDV key leaves dictionary encoding
          // on its own.
          .option("parquet.enable.dictionary#o_custkey", "false")
          .parquet(path)
        val part = new java.io.File(path).listFiles()
          .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .head
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(part.getAbsolutePath),
            s.sparkContext.hadoopConfiguration))
        val hasBloom = try {
          import scala.jdk.CollectionConverters._
          reader.getRowGroups.asScala.exists(_.getColumns.asScala.exists(c =>
            c.getPath.toDotString == "o_custkey" && c.getBloomFilterOffset >= 0))
        } finally reader.close()
        require(hasBloom,
          "o_custkey column chunk must carry a persisted bloom filter")
        Sources.parquet(s, path)
          .filter(col("o_custkey").isin(1, 7, 13, 42))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
              .as("sales"))
          .orderBy("o_orderstatus")
      },
      Some("""
        SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sales
        FROM orders WHERE o_custkey IN (1, 7, 13, 42)
        GROUP BY o_orderstatus ORDER BY o_orderstatus
      """.trim)),

    // KMV set-intersection ESTIMATE with the exact audit twin — the sketch
    // version of q331's exact audience overlap (at 100 TB the presence
    // sets don't fit a self-join; two mergeable k-minimum-values sketches
    // do): per event-type pair, the union estimate comes from the k-th
    // smallest hash of the MERGED sketch streams (the standard KMV union),
    // the intersection by inclusion-exclusion, and the EXACT intersection
    // rides alongside (q429's is_true/est audit convention) so the
    // sketch's error is auditable row by row. Deterministic 60-bit hashes
    // make even the estimates hash-gateable.
    Q(
      "q449_kmv_intersect",
      (s, dir) => {
        val k = 16
        val kmvK = lit((k - 1).toDouble) * lit(1152921504606846976L).cast("double")
        val presence = Tables.events(s, dir)
          .select(col("user_id"), col("event_type")).distinct()
        val hashed = presence.select(col("event_type"),
          graft.ext.TextHash.hash60(
            concat(lit("kmv:"), col("user_id").cast("string"))).as("h"))
        val sk = graft.plans.TopKPerKey.of(hashed,
          keyCols = Seq("event_type"), order = Seq("h" -> true), k = k)
        def est(pfx: String) =
          when(col(s"${pfx}_seen") < k, col(s"${pfx}_seen").cast("double"))
            .otherwise(kmvK / col(s"${pfx}_hk").cast("double"))
        val perType = sk.groupBy("event_type")
          .agg(count(lit(1)).as("a_seen"),
            max(when(col("rank") === k, col("h"))).as("a_hk"))
        // pairwise union sketch: merge the two k-min lists, re-rank, take
        // the k-th smallest of the union (types x types x k rows — bounded)
        val unionRanked = graft.plans.TopKPerKey.of(
          sk.select(col("event_type").as("ta"), col("h"))
            .join(broadcast(sk.select(col("event_type").as("tb")).distinct()),
              col("ta") =!= col("tb"))
            .filter(col("ta") < col("tb"))
            .select(col("ta"), col("tb"), col("h"))
            .unionAll(
              sk.select(col("event_type").as("tb"), col("h"))
                .join(broadcast(sk.select(col("event_type").as("ta")).distinct()),
                  col("ta") =!= col("tb"))
                .filter(col("ta") < col("tb"))
                .select(col("ta"), col("tb"), col("h")))
            .distinct(),
          keyCols = Seq("ta", "tb"), order = Seq("h" -> true), k = k)
        val unionEst = unionRanked.groupBy("ta", "tb")
          .agg(count(lit(1)).as("u_seen"),
            max(when(col("rank") === k, col("h"))).as("u_hk"))
        val exact = presence.as("a")
          .join(presence.as("b").hint("shuffle_hash"),
            col("a.user_id") === col("b.user_id")
              && col("a.event_type") < col("b.event_type"))
          .groupBy(col("a.event_type").as("ta"), col("b.event_type").as("tb"))
          .agg(count(lit(1)).as("exact_inter"))
        unionEst
          .join(perType.select(col("event_type").as("ta"),
            col("a_seen"), col("a_hk")).hint("shuffle_hash"), Seq("ta"))
          .join(perType.select(col("event_type").as("tb"),
            col("a_seen").as("b_seen"), col("a_hk").as("b_hk"))
            .hint("shuffle_hash"), Seq("tb"))
          .join(exact.hint("shuffle_hash"), Seq("ta", "tb"), "left")
          .select(col("ta"), col("tb"),
            est("a").as("est_a"), est("b").as("est_b"), est("u").as("est_union"),
            (est("a") + est("b") - est("u")).as("est_inter"),
            coalesce(col("exact_inter"), lit(0L)).as("exact_inter"))
          .orderBy("ta", "tb")
      },
      Some(s"""
        WITH presence AS (
          SELECT DISTINCT user_id, event_type FROM events
        ), h AS (
          SELECT event_type,
                 ${graft.ext.TextHash.duckHash60("'kmv:' || CAST(user_id AS VARCHAR)")} AS h
          FROM presence
        ), r AS (
          SELECT event_type, h,
                 row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
          FROM h
        ), sk AS (
          SELECT event_type, h, rn FROM r WHERE rn <= 16
        ), per AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS seen,
                 MAX(CASE WHEN rn = 16 THEN h END) AS hk
          FROM sk GROUP BY event_type
        ), uni AS (
          SELECT ta, tb, h, row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS rn
          FROM (
            SELECT DISTINCT p.ta, p.tb, s.h
            FROM (SELECT a.event_type AS ta, b.event_type AS tb
                  FROM (SELECT DISTINCT event_type FROM sk) a
                  JOIN (SELECT DISTINCT event_type FROM sk) b
                    ON a.event_type < b.event_type) p
            JOIN sk s ON s.event_type = p.ta OR s.event_type = p.tb)
        ), ue AS (
          SELECT ta, tb, CAST(COUNT(*) AS BIGINT) AS u_seen,
                 MAX(CASE WHEN rn = 16 THEN h END) AS u_hk
          FROM uni WHERE rn <= 16 GROUP BY ta, tb
        ), ex AS (
          SELECT a.event_type AS ta, b.event_type AS tb,
                 CAST(COUNT(*) AS BIGINT) AS exact_inter
          FROM presence a JOIN presence b
            ON a.user_id = b.user_id AND a.event_type < b.event_type
          GROUP BY 1, 2
        )
        SELECT ue.ta AS ta, ue.tb AS tb,
               CASE WHEN pa.seen < 16 THEN CAST(pa.seen AS DOUBLE)
                    ELSE 15.0 * CAST(1152921504606846976 AS DOUBLE)
                         / CAST(pa.hk AS DOUBLE) END AS est_a,
               CASE WHEN pb.seen < 16 THEN CAST(pb.seen AS DOUBLE)
                    ELSE 15.0 * CAST(1152921504606846976 AS DOUBLE)
                         / CAST(pb.hk AS DOUBLE) END AS est_b,
               CASE WHEN ue.u_seen < 16 THEN CAST(ue.u_seen AS DOUBLE)
                    ELSE 15.0 * CAST(1152921504606846976 AS DOUBLE)
                         / CAST(ue.u_hk AS DOUBLE) END AS est_union,
               (CASE WHEN pa.seen < 16 THEN CAST(pa.seen AS DOUBLE)
                     ELSE 15.0 * CAST(1152921504606846976 AS DOUBLE)
                          / CAST(pa.hk AS DOUBLE) END
                + CASE WHEN pb.seen < 16 THEN CAST(pb.seen AS DOUBLE)
                       ELSE 15.0 * CAST(1152921504606846976 AS DOUBLE)
                            / CAST(pb.hk AS DOUBLE) END
                - CASE WHEN ue.u_seen < 16 THEN CAST(ue.u_seen AS DOUBLE)
                       ELSE 15.0 * CAST(1152921504606846976 AS DOUBLE)
                            / CAST(ue.u_hk AS DOUBLE) END) AS est_inter,
               COALESCE(ex.exact_inter, 0) AS exact_inter
        FROM ue
        JOIN per pa ON pa.event_type = ue.ta
        JOIN per pb ON pb.event_type = ue.tb
        LEFT JOIN ex ON ex.ta = ue.ta AND ex.tb = ue.tb
        ORDER BY ta, tb
      """.trim)),

    // Truncated harmonic centrality over the mutual-kNN graph — per-node
    // sum of 1/d over nodes first reached at distance d <= 3 (the
    // ANF-style centrality that, unlike closeness, is defined on
    // disconnected graphs): hub vectors score high, fringe vectors low —
    // the per-NODE refinement of q446's global N(h) curve. New-at-hop-d
    // sets via left_anti against the previous reach (frontier bounded by
    // the degree cap); the 1/d weights are FIXED integer micro-units
    // (1e6, 5e5, 333333) so the score is a pure integer expression.
    Q(
      "q450_harmonic_centrality",
      (s, dir) => {
        val mu = mutualKnnEdges(s, dir)
        val und = mu.select(col("id_a").as("u"), col("id_b").as("v"))
          .unionAll(mu.select(col("id_b").as("u"), col("id_a").as("v")))
        // materialize: loop — the hop-1 reach set that each later hop extends
        val r1 = und.distinct().localCheckpoint()
        def expand(r: DataFrame) = r
          .unionAll(r.join(und.select(col("u").as("v"), col("v").as("x"))
              .hint("shuffle_hash"), Seq("v"))
            .select(col("u"), col("x").as("v"))
            .filter(col("u") =!= col("v")))
          // materialize: loop — each hop extends the previous hop's reach set
          .distinct().localCheckpoint()
        val r2 = expand(r1)
        val r3 = expand(r2)
        def countNew(r: DataFrame, prev: Option[DataFrame], name: String) = {
          val fresh = prev.fold(r)(p => r.join(p.hint("shuffle_hash"),
            Seq("u", "v"), "left_anti"))
          fresh.groupBy("u").agg(count(lit(1)).as(name))
        }
        countNew(r1, None, "n1")
          .join(countNew(r2, Some(r1), "n2").hint("shuffle_hash"), Seq("u"), "left")
          .join(countNew(r3, Some(r2), "n3").hint("shuffle_hash"), Seq("u"), "left")
          .select(col("u").as("vec_id"), col("n1"),
            coalesce(col("n2"), lit(0L)).as("n2"),
            coalesce(col("n3"), lit(0L)).as("n3"))
          .withColumn("harmonic_micro",
            col("n1") * 1000000L + col("n2") * 500000L + col("n3") * 333333L)
          .orderBy("vec_id")
      },
      Some(s"""
        $MutualKnnCte, r1 AS MATERIALIZED (
          SELECT id_a AS u, id_b AS v FROM mu
          UNION SELECT id_b AS u, id_a AS v FROM mu
        ), r2 AS MATERIALIZED (
          SELECT u, v FROM r1
          UNION
          SELECT r.u, e.v FROM r1 r JOIN r1 e ON e.u = r.v WHERE r.u <> e.v
        ), r3 AS MATERIALIZED (
          SELECT u, v FROM r2
          UNION
          SELECT r.u, e.v FROM r2 r JOIN r1 e ON e.u = r.v WHERE r.u <> e.v
        ), n1 AS (
          SELECT u, COUNT(*) AS n1 FROM r1 GROUP BY u
        ), n2 AS (
          SELECT u, COUNT(*) AS n2 FROM (
            SELECT u, v FROM r2 EXCEPT SELECT u, v FROM r1) GROUP BY u
        ), n3 AS (
          SELECT u, COUNT(*) AS n3 FROM (
            SELECT u, v FROM r3 EXCEPT SELECT u, v FROM r2) GROUP BY u
        )
        SELECT n1.u AS vec_id, CAST(n1.n1 AS BIGINT) AS n1,
               CAST(COALESCE(n2.n2, 0) AS BIGINT) AS n2,
               CAST(COALESCE(n3.n3, 0) AS BIGINT) AS n3,
               CAST(n1.n1 * 1000000 + COALESCE(n2.n2, 0) * 500000
                 + COALESCE(n3.n3, 0) * 333333 AS BIGINT) AS harmonic_micro
        FROM n1
        LEFT JOIN n2 ON n2.u = n1.u
        LEFT JOIN n3 ON n3.u = n1.u
        ORDER BY vec_id
      """.trim)),

    // Benford first-digit audit — the classic fabricated-data / corrupted-
    // feed detector: a naturally-spread monetary column's first significant
    // digit follows P(d) = log10(1 + 1/d). The nine expected probabilities
    // are FIXED integer micro-unit literals (they sum to exactly 1e6), so
    // no engine evaluates a logarithm at runtime; the observed digit comes
    // from the DECIMAL(18,2) string rendering (both engines print decimals
    // identically — never the raw double, whose formatting differs), and
    // the observed share is an integer floor division. Map-side digit
    // extraction into one 9-row hash aggregate — corpus-linear, and the
    // single-row total is the broadcast-of-one-aggregate pattern.
    Q(
      "q451_benford_audit",
      (s, dir) => {
        val digits = Tables.orders(s, dir)
          .select(regexp_extract(
            col("o_totalprice").cast("decimal(18,2)").cast("string"),
            "([1-9])", 1).as("digit"))
          .filter(col("digit") =!= "")
        val expected = when(col("digit") === "1", 301030L)
          .when(col("digit") === "2", 176091L)
          .when(col("digit") === "3", 124939L)
          .when(col("digit") === "4", 96910L)
          .when(col("digit") === "5", 79181L)
          .when(col("digit") === "6", 66947L)
          .when(col("digit") === "7", 57992L)
          .when(col("digit") === "8", 51153L)
          .otherwise(45757L)
        digits.groupBy("digit").agg(count(lit(1)).as("n_obs"))
          .crossJoin(broadcast(
            digits.agg(count(lit(1)).as("n_total"))))
          .withColumn("expected_micro", expected)
          .withColumn("obs_micro",
            expr("CAST(n_obs * 1000000 DIV n_total AS BIGINT)"))
          .withColumn("dev_micro", col("obs_micro") - col("expected_micro"))
          .select("digit", "n_obs", "expected_micro", "obs_micro", "dev_micro")
          .orderBy("digit")
      },
      Some("""
        WITH d AS (
          SELECT regexp_extract(
            CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), '[1-9]')
            AS digit
          FROM orders
        ), f AS (
          SELECT digit FROM d WHERE digit <> ''
        ), c AS (
          SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs FROM f GROUP BY digit
        ), t AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM f
        ), e AS (
          SELECT * FROM (VALUES
            ('1', 301030), ('2', 176091), ('3', 124939), ('4', 96910),
            ('5', 79181), ('6', 66947), ('7', 57992), ('8', 51153),
            ('9', 45757)) v(digit, em)
        )
        SELECT c.digit AS digit, c.n_obs AS n_obs,
               CAST(e.em AS BIGINT) AS expected_micro,
               CAST(c.n_obs * 1000000 // t.n_total AS BIGINT) AS obs_micro,
               CAST(c.n_obs * 1000000 // t.n_total - e.em AS BIGINT) AS dev_micro
        FROM c JOIN e ON e.digit = c.digit, t
        ORDER BY digit
      """.trim)),

    // Degree assortativity of the mutual-kNN semantic graph — the single
    // scalar that says whether hubs link to hubs (assortative, r > 0) or
    // hubs to fringe (disassortative, r < 0): Pearson correlation of the
    // endpoint degrees over the DIRECTED edge list (each undirected edge
    // counted both ways, the standard Newman formulation — which also makes
    // sum(x)=sum(y) and sum(x^2)=sum(y^2) by symmetry). Degrees are
    // integers bounded by the kNN cap (<= 3), all five power sums are exact
    // integer aggregates, and the correlation is ONE final fixed IEEE tree
    // over them. Degree frame is node-sized (corpus-linear) -> shuffle_hash,
    // never broadcast.
    Q(
      "q452_degree_assortativity",
      (s, dir) => {
        val mu = mutualKnnEdges(s, dir)
        val und = mu.select(col("id_a").as("u"), col("id_b").as("v"))
          .unionAll(mu.select(col("id_b").as("u"), col("id_a").as("v")))
        val deg = und.groupBy("u").agg(count(lit(1)).as("deg"))
        val xy = und
          .join(deg.select(col("u"), col("deg").as("dx"))
            .hint("shuffle_hash"), Seq("u"))
          .join(deg.select(col("u").as("v"), col("deg").as("dy"))
            .hint("shuffle_hash"), Seq("v"))
        xy.agg(count(lit(1)).as("m"),
            sum(col("dx")).as("sx"),
            sum(col("dx") * col("dx")).as("sxx"),
            sum(col("dx") * col("dy")).as("sxy"))
          .select(col("m"), col("sx"), col("sxx"), col("sxy"),
            when(col("m") * col("sxx") - col("sx") * col("sx") > 0L,
              (col("m") * col("sxy") - col("sx") * col("sx")).cast("double")
                / (col("m") * col("sxx") - col("sx") * col("sx")).cast("double"))
              .otherwise(lit(0.0)).as("assortativity"))
      },
      Some(s"""
        $MutualKnnCte, und AS (
          SELECT id_a AS u, id_b AS v FROM mu
          UNION ALL SELECT id_b AS u, id_a AS v FROM mu
        ), deg AS (
          SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM und GROUP BY u
        ), xy AS (
          SELECT d1.deg AS dx, d2.deg AS dy
          FROM und JOIN deg d1 ON d1.u = und.u JOIN deg d2 ON d2.u = und.v
        ), sums AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS m, CAST(SUM(dx) AS BIGINT) AS sx,
                 CAST(SUM(dx * dx) AS BIGINT) AS sxx,
                 CAST(SUM(dx * dy) AS BIGINT) AS sxy
          FROM xy
        )
        SELECT m, sx, sxx, sxy,
               CASE WHEN m * sxx - sx * sx > 0
                    THEN CAST(m * sxy - sx * sx AS DOUBLE)
                         / CAST(m * sxx - sx * sx AS DOUBLE)
                    ELSE 0.0 END AS assortativity
        FROM sums
      """.trim)),

    // Fixed-bin histogram quantile estimator — the mergeable, deterministic
    // distributed-quantile shape (one min/max pass, then per-partition
    // 1024-bin counts that merge by addition — the sketch every SQL engine's
    // approx_percentile hides, made explicit so both engines compute THE
    // SAME estimate and the result hash-gates, unlike engine-specific
    // t-digests). Bin edges derive from min/max through an identical IEEE
    // expression tree; the cut bin for each target percentile is the
    // smallest bin whose cumulative count reaches ceil(p*n/100) (exact
    // integer threshold arithmetic). The cumulative scan is a self-join
    // over <= 1024 bin rows — a DATA-INDEPENDENT bound, not a window and
    // not corpus-proportional. Output carries the exact rank evidence
    // (n_le_cut vs target_rank) so the estimate is auditable row by row.
    Q(
      "q453_histogram_quantiles",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val stats = o.agg(min(col("o_totalprice")).as("mn"),
          max(col("o_totalprice")).as("mx"),
          count(lit(1)).as("n"))
        val bins = o.crossJoin(broadcast(stats))
          .select(when(col("mx") > col("mn"),
            least(floor(((col("o_totalprice") - col("mn")) * lit(1024.0))
              / (col("mx") - col("mn"))), lit(1023L)))
            .otherwise(lit(0L)).as("bin"))
          .groupBy("bin").agg(count(lit(1)).as("c"))
        val cum = bins.as("a")
          .join(bins.as("b"), col("b.bin") <= col("a.bin"))
          .groupBy(col("a.bin").as("bin")).agg(sum(col("b.c")).as("cum"))
        val targets = s.createDataFrame(
            Seq(Tuple1(25), Tuple1(50), Tuple1(75), Tuple1(90), Tuple1(99)))
          .toDF("pct")
          .crossJoin(broadcast(stats))
          .select(col("pct"), col("mn"), col("mx"),
            expr("CAST((pct * n + 99) DIV 100 AS BIGINT)").as("target_rank"))
        val cut = targets
          .join(cum, col("cum") >= col("target_rank"))
          .groupBy("pct", "target_rank", "mn", "mx")
          .agg(min(col("bin")).as("cut_bin"))
        cut.join(cum.withColumnRenamed("bin", "cut_bin")
            .withColumnRenamed("cum", "n_le_cut"), Seq("cut_bin"))
          .select(col("pct"), col("cut_bin"), col("n_le_cut"),
            col("target_rank"),
            (col("mn") + ((col("mx") - col("mn"))
              * col("cut_bin").cast("double")) / lit(1024.0)).as("est_value"))
          .orderBy("pct")
      },
      Some("""
        WITH s AS (
          SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM orders
        ), b AS (
          SELECT CASE WHEN s.mx > s.mn
                      THEN LEAST(CAST(floor(((o_totalprice - s.mn) * 1024.0)
                             / (s.mx - s.mn)) AS BIGINT), 1023)
                      ELSE 0 END AS bin
          FROM orders, s
        ), bc AS (
          SELECT bin, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY bin
        ), cum AS (
          SELECT a.bin AS bin, CAST(SUM(b2.c) AS BIGINT) AS cum
          FROM bc a JOIN bc b2 ON b2.bin <= a.bin GROUP BY a.bin
        ), t AS (
          SELECT pct, (pct * s.n + 99) // 100 AS target_rank
          FROM (VALUES (25), (50), (75), (90), (99)) v(pct), s
        ), cut AS (
          SELECT t.pct AS pct, t.target_rank AS target_rank,
                 MIN(cum.bin) AS cut_bin
          FROM t JOIN cum ON cum.cum >= t.target_rank
          GROUP BY 1, 2
        )
        SELECT cut.pct AS pct, cut.cut_bin AS cut_bin,
               cum.cum AS n_le_cut,
               CAST(cut.target_rank AS BIGINT) AS target_rank,
               s.mn + ((s.mx - s.mn) * CAST(cut.cut_bin AS DOUBLE)) / 1024.0
                 AS est_value
        FROM cut JOIN cum ON cum.bin = cut.cut_bin, s
        ORDER BY pct
      """.trim)),

    // Deterministic negative sampling for contrastive training — the
    // RNG-free twin of word2vec/DPR negative mining: every anchor vector
    // draws k=4 pseudo-random negatives by hashing (rank, draw-index) into
    // the global rank space (graft_hash60 keeps it reproducible across
    // engines AND overflow-free at any corpus size, unlike an LCG whose
    // rank*multiplier product overflows past ~3e9 rows), joins the sampled
    // rank back to its vector, scores the pair's cosine in integer
    // micro-units (hard-negative mining signal), and flags accidental
    // true-neighbor collisions against the mutual-kNN edge set (the
    // false-negative audit — those pairs must be dropped or down-weighted
    // in the loss). Ranks come from the two-phase scalable rank (no global
    // window); every join is key-equi on rank or id.
    Q(
      "q454_negative_sampling",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
        val ranked = graft.engine.Keys.rankByScalable(
            emb, Seq(col("vec_id")), "r")
          .withColumn("r0", col("r") - 1L).drop("r")
        val n = broadcast(ranked.agg(count(lit(1)).as("n")))
        val draws = ranked.crossJoin(n)
          .select(col("vec_id").as("anchor_id"), col("embedding").as("ea"),
            col("r0"), col("n"),
            explode(array(lit(1), lit(2), lit(3), lit(4))).as("neg_idx"))
          .withColumn("nr",
            graft.ext.TextHash.hash60(concat(lit("neg:"),
              col("r0").cast("string"), lit(":"),
              col("neg_idx").cast("string"))) % col("n"))
          .filter(col("nr") =!= col("r0"))
        val dotc = graft.ext.Similarity.dot(col("ea"), col("eb"))
        val pairs = draws.join(
            ranked.select(col("r0").as("nr"), col("vec_id").as("neg_id"),
              col("embedding").as("eb")).hint("shuffle_hash"), Seq("nr"))
          .select(col("anchor_id"), col("neg_idx"), col("neg_id"),
            round((dotc / (sqrt(graft.ext.Similarity.dot(col("ea"), col("ea")))
              * sqrt(graft.ext.Similarity.dot(col("eb"), col("eb")))))
              * lit(1000000.0)).cast("long").as("cos_micro"))
        val mu = mutualKnnEdges(s, dir)
        pairs.join(mu.hint("shuffle_hash"),
            least(col("anchor_id"), col("neg_id")) === col("id_a")
              && greatest(col("anchor_id"), col("neg_id")) === col("id_b"),
            "left")
          .select(col("anchor_id"), col("neg_idx"), col("neg_id"),
            col("cos_micro"),
            when(col("id_a").isNull, 0L).otherwise(1L).as("is_knn_edge"))
          .orderBy("anchor_id", "neg_idx")
      },
      Some(s"""
        $MutualKnnCte, cnt AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings
        ), rk AS (
          SELECT vec_id, embedding,
                 CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS r0
          FROM embeddings
        ), draws AS (
          SELECT a.vec_id AS anchor_id, a.embedding AS ea, a.r0 AS r0,
                 i.i AS neg_idx,
                 ${graft.ext.TextHash.duckHash60(
                   "'neg:' || CAST(a.r0 AS VARCHAR) || ':' || CAST(i.i AS VARCHAR)")}
                   % cnt.n AS nr
          FROM rk a, cnt, (VALUES (1), (2), (3), (4)) i(i)
        ), pairs AS (
          SELECT d.anchor_id AS anchor_id, d.neg_idx AS neg_idx,
                 b.vec_id AS neg_id,
                 CAST(round((${duckDot("d.ea", "b.embedding")}
                   / (sqrt(${duckDot("d.ea", "d.ea")})
                      * sqrt(${duckDot("b.embedding", "b.embedding")})))
                   * 1000000.0) AS BIGINT) AS cos_micro
          FROM draws d JOIN rk b ON b.r0 = d.nr
          WHERE d.nr <> d.r0
        )
        SELECT p.anchor_id AS anchor_id, p.neg_idx AS neg_idx,
               p.neg_id AS neg_id, p.cos_micro AS cos_micro,
               CAST(CASE WHEN mu.id_a IS NULL THEN 0 ELSE 1 END AS BIGINT)
                 AS is_knn_edge
        FROM pairs p
        LEFT JOIN mu ON mu.id_a = LEAST(p.anchor_id, p.neg_id)
                    AND mu.id_b = GREATEST(p.anchor_id, p.neg_id)
        ORDER BY anchor_id, neg_idx
      """.trim)),

    // Mann-Kendall trend test per event type — the nonparametric "is this
    // metric drifting" monitor (no normality assumption, robust to
    // outliers): S = sum of sign(c_j - c_i) over all day pairs i < j of the
    // daily event counts, with the exact tie-corrected variance
    // Var(S) = [n(n-1)(2n+5) - sum t(t-1)(2t+5)] / 18 and the standard
    // continuity-corrected z. The day-pair self-join is CALENDAR-bounded
    // (days^2 per type grows with the time span, not the corpus volume —
    // at 100 TB the daily rollup upstream of it is the corpus-linear part),
    // S and the 18x-scaled variance stay exact integers, and z is one
    // final fixed IEEE tree.
    Q(
      "q455_mann_kendall",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"), col("ts").cast("date").as("d"))
          .agg(count(lit(1)).as("c"))
        val pairs = daily.as("a")
          .join(daily.as("b").hint("shuffle_hash"),
            col("a.event_type") === col("b.event_type")
              && col("a.d") < col("b.d"))
          .groupBy(col("a.event_type").as("event_type"))
          .agg(sum(when(col("b.c") > col("a.c"), 1L)
            .when(col("b.c") < col("a.c"), -1L)
            .otherwise(0L)).as("s_stat"))
        val nd = daily.groupBy("event_type").agg(count(lit(1)).as("n_days"))
        val ties = daily.groupBy("event_type", "c")
          .agg(count(lit(1)).as("t"))
          .groupBy("event_type")
          .agg(sum(col("t") * (col("t") - 1L) * (lit(2L) * col("t") + 5L))
            .as("tie18"))
        pairs.join(nd.hint("shuffle_hash"), Seq("event_type"))
          .join(ties.hint("shuffle_hash"), Seq("event_type"))
          .withColumn("var18",
            col("n_days") * (col("n_days") - 1L)
              * (lit(2L) * col("n_days") + 5L) - col("tie18"))
          .select(col("event_type"), col("n_days"), col("s_stat"), col("var18"),
            when(col("var18") <= 0L, lit(0.0))
              .when(col("s_stat") > 0L,
                (col("s_stat") - 1L).cast("double")
                  / sqrt(col("var18").cast("double") / lit(18.0)))
              .when(col("s_stat") < 0L,
                (col("s_stat") + 1L).cast("double")
                  / sqrt(col("var18").cast("double") / lit(18.0)))
              .otherwise(lit(0.0)).as("z_score"))
          .orderBy("event_type")
      },
      Some("""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS c
          FROM events GROUP BY 1, 2
        ), sp AS (
          SELECT a.event_type AS event_type,
                 CAST(SUM(CASE WHEN b.c > a.c THEN 1
                               WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT)
                   AS s_stat
          FROM daily a JOIN daily b
            ON b.event_type = a.event_type AND a.d < b.d
          GROUP BY 1
        ), nd AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
          FROM daily GROUP BY 1
        ), ties AS (
          SELECT event_type,
                 CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie18
          FROM (SELECT event_type, c, COUNT(*) AS t FROM daily GROUP BY 1, 2)
          GROUP BY 1
        ), j AS (
          SELECT sp.event_type AS event_type, nd.n_days AS n_days,
                 sp.s_stat AS s_stat,
                 nd.n_days * (nd.n_days - 1) * (2 * nd.n_days + 5) - ties.tie18
                   AS var18
          FROM sp JOIN nd ON nd.event_type = sp.event_type
          JOIN ties ON ties.event_type = sp.event_type
        )
        SELECT event_type, n_days, s_stat, CAST(var18 AS BIGINT) AS var18,
               CASE WHEN var18 <= 0 THEN 0.0
                    WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
                         / sqrt(CAST(var18 AS DOUBLE) / 18.0)
                    WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
                         / sqrt(CAST(var18 AS DOUBLE) / 18.0)
                    ELSE 0.0 END AS z_score
        FROM j ORDER BY event_type
      """.trim)),

    // Fellegi-Sunter probabilistic linkage scoring — the decision layer on
    // top of q442's sorted-neighborhood candidate generation: each
    // candidate pair scores the SUM of per-field agreement log-odds
    // (ln(m/u) for agreement, ln((1-m)/(1-u)) for disagreement), with the
    // weights FIXED integer micro-nat literals (they are model parameters,
    // not data statistics — no runtime transcendental), and the score
    // thresholded into link / possible / nonlink. Candidates come from the
    // same linear SNM shape (blocked window, lead w=2), so the pair count
    // is 2n, never quadratic; every output column is an integer or string.
    Q(
      "q456_fellegi_sunter",
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val w = Window.partitionBy("c_nationkey")
          .orderBy(col("c_name"), col("c_custkey"))
        def led(n: Int) = struct(
          lead(col("c_custkey"), n).over(w).as("key_b"),
          lead(col("c_name"), n).over(w).as("name_b"),
          lead(col("c_mktsegment"), n).over(w).as("seg_b"),
          lead(col("c_acctbal"), n).over(w).as("bal_b"))
        val nb = c.select(col("c_custkey").as("key_a"), col("c_name").as("name_a"),
          col("c_mktsegment").as("seg_a"), col("c_acctbal").as("bal_a"),
          led(1).as("p1"), led(2).as("p2"))
        val cand = nb.select(col("key_a"), col("name_a"), col("seg_a"),
            col("bal_a"), col("p1.*"))
          .unionAll(nb.select(col("key_a"), col("name_a"), col("seg_a"),
            col("bal_a"), col("p2.*")))
          .filter(col("key_b").isNotNull)
        val segA = (col("seg_a") === col("seg_b")).cast("long")
        val bandA = (floor(col("bal_a") / lit(1000.0))
          === floor(col("bal_b") / lit(1000.0))).cast("long")
        val nameA = (levenshtein(col("name_a"), col("name_b")) <= 10).cast("long")
        cand.select(col("key_a"), col("key_b"),
            segA.as("seg_agree"), bandA.as("band_agree"), nameA.as("name_agree"))
          .withColumn("score_micro",
            when(col("seg_agree") === 1L, 1386294L).otherwise(-1203973L)
              + when(col("band_agree") === 1L, 2079442L).otherwise(-356675L)
              + when(col("name_agree") === 1L, 2944439L).otherwise(-693147L))
          .withColumn("decision",
            when(col("score_micro") >= 3000000L, lit("link"))
              .when(col("score_micro") >= 0L, lit("possible"))
              .otherwise(lit("nonlink")))
          .orderBy("key_a", "key_b")
      },
      Some("""
        WITH nb AS (
          SELECT c_custkey AS key_a, c_name AS name_a, c_mktsegment AS seg_a,
                 c_acctbal AS bal_a,
                 lead(c_custkey, 1) OVER w AS k1, lead(c_name, 1) OVER w AS n1,
                 lead(c_mktsegment, 1) OVER w AS s1, lead(c_acctbal, 1) OVER w AS b1,
                 lead(c_custkey, 2) OVER w AS k2, lead(c_name, 2) OVER w AS n2,
                 lead(c_mktsegment, 2) OVER w AS s2, lead(c_acctbal, 2) OVER w AS b2
          FROM customer
          WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_name, c_custkey)
        ), cand AS (
          SELECT key_a, name_a, seg_a, bal_a,
                 k1 AS key_b, n1 AS name_b, s1 AS seg_b, b1 AS bal_b FROM nb
          UNION ALL
          SELECT key_a, name_a, seg_a, bal_a, k2, n2, s2, b2 FROM nb
        ), f AS (
          SELECT key_a, key_b,
                 CAST(CASE WHEN seg_a = seg_b THEN 1 ELSE 0 END AS BIGINT)
                   AS seg_agree,
                 CAST(CASE WHEN CAST(floor(bal_a / 1000.0) AS BIGINT)
                             = CAST(floor(bal_b / 1000.0) AS BIGINT)
                           THEN 1 ELSE 0 END AS BIGINT) AS band_agree,
                 CAST(CASE WHEN levenshtein(name_a, name_b) <= 10
                           THEN 1 ELSE 0 END AS BIGINT) AS name_agree
          FROM cand WHERE key_b IS NOT NULL
        ), sc AS (
          SELECT *,
                 CAST(CASE WHEN seg_agree = 1 THEN 1386294 ELSE -1203973 END
                   + CASE WHEN band_agree = 1 THEN 2079442 ELSE -356675 END
                   + CASE WHEN name_agree = 1 THEN 2944439 ELSE -693147 END
                   AS BIGINT) AS score_micro
          FROM f
        )
        SELECT key_a, key_b, seg_agree, band_agree, name_agree, score_micro,
               CASE WHEN score_micro >= 3000000 THEN 'link'
                    WHEN score_micro >= 0 THEN 'possible'
                    ELSE 'nonlink' END AS decision
        FROM sc ORDER BY key_a, key_b
      """.trim)),

    // Stratified k-fold rotation audit — the cross-validation protocol
    // view the split family (q419 leakage, q430 cluster-aware, q445
    // holdout) still lacked: every document lands in fold = hash60(doc_id)
    // mod 5, and for EACH fold the query reports the test side (that fold)
    // against its complementary training side (everything else, derived by
    // subtracting the fold aggregate from the broadcast single-row total —
    // no second scan, no 5x re-read). Balance is auditable from exact
    // integer token sums; the two means are integer floor divisions in
    // micro-units.
    Q(
      "q457_kfold_rotation",
      (s, dir) => {
        val d = Tables.documents(s, dir)
          .select(graft.ext.TextHash.hash60(
              concat(lit("fold:"), col("doc_id").cast("string"))).%(5)
              .cast("int").as("fold"),
            size(TextAnalysis.tokens(col("text"))).cast("long").as("nt"))
        val per = d.groupBy("fold")
          .agg(count(lit(1)).as("n_test"), sum(col("nt")).as("tok_test"))
        val tot = d.agg(count(lit(1)).as("n_all"), sum(col("nt")).as("tok_all"))
        per.crossJoin(broadcast(tot))
          .select(col("fold"), col("n_test"),
            (col("n_all") - col("n_test")).as("n_train"),
            expr("CAST(tok_test * 1000000 DIV n_test AS BIGINT)")
              .as("test_mean_micro"),
            expr("CAST((tok_all - tok_test) * 1000000 DIV (n_all - n_test) AS BIGINT)")
              .as("train_mean_micro"))
          .withColumn("skew_micro",
            col("test_mean_micro") - col("train_mean_micro"))
          .orderBy("fold")
      },
      Some(s"""
        WITH d AS (
          SELECT CAST(${graft.ext.TextHash.duckHash60(
            "'fold:' || CAST(doc_id AS VARCHAR)")} % 5 AS INTEGER) AS fold,
                 CAST(len($Toks) AS BIGINT) AS nt
          FROM documents
        ), per AS (
          SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_test,
                 CAST(SUM(nt) AS BIGINT) AS tok_test
          FROM d GROUP BY fold
        ), tot AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
                 CAST(SUM(nt) AS BIGINT) AS tok_all
          FROM d
        )
        SELECT fold, n_test, n_all - n_test AS n_train,
               CAST(tok_test * 1000000 // n_test AS BIGINT) AS test_mean_micro,
               CAST((tok_all - tok_test) * 1000000 // (n_all - n_test) AS BIGINT)
                 AS train_mean_micro,
               CAST(tok_test * 1000000 // n_test
                 - (tok_all - tok_test) * 1000000 // (n_all - n_test) AS BIGINT)
                 AS skew_micro
        FROM per, tot ORDER BY fold
      """.trim)),

    // CDC apply with tombstones — the change-data-capture MERGE the upsert
    // family (q109 keyed upsert, q17 SCD2) still lacked: a deterministic
    // I/U/D change log (insert for every key, an update for keys where
    // hash60 % 3 = 0, a delete tombstone where hash60 % 7 = 0) collapses
    // to the final snapshot by LAST-WRITER-WINS on (key, max op_seq), with
    // tombstoned keys DROPPED — exactly the Debezium/Delta apply contract.
    // Shape: one hash aggregate for the frontier, one equi-join back on
    // (key, seq) — out-of-order and duplicate delivery land on the same
    // frontier, which is what makes the operator exactly-once-insensitive
    // at 100 TB.
    Q(
      "q458_cdc_apply",
      (s, dir) => {
        val keys = Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_totalprice"))
        val uh = graft.ext.TextHash.hash60(
          concat(lit("cdc-u:"), col("o_orderkey").cast("string")))
        val dh = graft.ext.TextHash.hash60(
          concat(lit("cdc-d:"), col("o_orderkey").cast("string")))
        val log = keys.select(col("o_orderkey"), lit(1L).as("op_seq"),
            lit("I").as("op"), col("o_totalprice").as("price"))
          .unionAll(keys.filter(uh % 3 === 0)
            .select(col("o_orderkey"), lit(2L).as("op_seq"), lit("U").as("op"),
              (col("o_totalprice") + lit(10.0)).as("price")))
          .unionAll(keys.filter(dh % 7 === 0)
            .select(col("o_orderkey"), lit(3L).as("op_seq"), lit("D").as("op"),
              lit(0.0).as("price")))
        val frontier = log.groupBy("o_orderkey")
          .agg(max(col("op_seq")).as("op_seq"), count(lit(1)).as("n_ops"))
        log.join(frontier.hint("shuffle_hash"), Seq("o_orderkey", "op_seq"))
          .filter(col("op") =!= "D")
          .select(col("o_orderkey"), col("op").as("last_op"),
            col("op_seq").as("last_seq"), col("n_ops"), col("price"))
          .orderBy("o_orderkey")
      },
      Some(s"""
        WITH k AS (
          SELECT o_orderkey, o_totalprice FROM orders
        ), log AS (
          SELECT o_orderkey, 1 AS op_seq, 'I' AS op, o_totalprice AS price FROM k
          UNION ALL
          SELECT o_orderkey, 2, 'U', o_totalprice + 10.0 FROM k
          WHERE ${graft.ext.TextHash.duckHash60(
            "'cdc-u:' || CAST(o_orderkey AS VARCHAR)")} % 3 = 0
          UNION ALL
          SELECT o_orderkey, 3, 'D', 0.0 FROM k
          WHERE ${graft.ext.TextHash.duckHash60(
            "'cdc-d:' || CAST(o_orderkey AS VARCHAR)")} % 7 = 0
        ), frontier AS (
          SELECT o_orderkey, CAST(MAX(op_seq) AS BIGINT) AS op_seq,
                 CAST(COUNT(*) AS BIGINT) AS n_ops
          FROM log GROUP BY o_orderkey
        )
        SELECT l.o_orderkey AS o_orderkey, l.op AS last_op,
               f.op_seq AS last_seq, f.n_ops AS n_ops, l.price AS price
        FROM log l JOIN frontier f
          ON f.o_orderkey = l.o_orderkey AND f.op_seq = l.op_seq
        WHERE l.op <> 'D'
        ORDER BY o_orderkey
      """.trim)),

    // BPE merge learning — the tokenizer TRAINING step (Sennrich et al.)
    // the tokenization family (q443 fertility, X429) consumes but never
    // produced: over the WORD-TYPE table (vocabulary-sized — Heaps-law
    // sublinear in the corpus, which is why real BPE trainers operate on
    // it), learn the highest-weight adjacent character pair, APPLY the
    // merge with exact greedy-leftmost semantics, and emit the post-merge
    // pair ranking (iteration 2's input). Greedy overlap resolution is
    // done RELATIONALLY: match positions group into consecutive runs
    // (j - rank), and every odd-indexed position within a run is selected
    // — provably identical to the sequential left-to-right scan, with no
    // UDF and no driver loop. All windows are partitioned by word.
    Q(
      "q459_bpe_merge",
      (s, dir) => {
        val words = Tables.documents(s, dir)
          .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
          .filter(length(col("word")).between(2, 20))
          .groupBy("word").agg(count(lit(1)).as("c"))
        val pairs0 = words
          .select(col("word"), col("c"),
            explode(sequence(lit(1), length(col("word")) - 1)).as("j"))
          .select(col("word"), col("c"), col("j"),
            expr("substring(word, j, 1)").as("a"),
            expr("substring(word, j + 1, 1)").as("b"))
        val top1 = pairs0.groupBy("a", "b").agg(sum(col("c")).as("pc"))
          .orderBy(col("pc").desc, col("a"), col("b")).limit(1)
          .select(col("a").as("ma"), col("b").as("mb"))
        val wWord = Window.partitionBy("word").orderBy("j")
        val runs = pairs0.crossJoin(broadcast(top1))
          .filter(col("a") === col("ma") && col("b") === col("mb"))
          .withColumn("grp", col("j") - row_number().over(wWord))
        val wRun = Window.partitionBy("word", "grp").orderBy("j")
        val sel = runs.withColumn("rr", row_number().over(wRun))
          .filter(col("rr") % 2 === 1)
          .select(col("word"), col("j"))
        val pos = words
          .select(col("word"), col("c"),
            explode(sequence(lit(1), length(col("word")))).as("p"))
          .withColumn("sym", expr("substring(word, p, 1)"))
        val rebuilt = pos
          .join(sel.select(col("word"), col("j").as("p"), lit(1L).as("m1"))
            .hint("shuffle_hash"), Seq("word", "p"), "left")
          .join(sel.select(col("word"), (col("j") + 1).as("p"), lit(1L).as("m2"))
            .hint("shuffle_hash"), Seq("word", "p"), "left")
          .filter(col("m2").isNull)
          .crossJoin(broadcast(top1))
          .select(col("word"), col("c"), col("p"),
            when(col("m1") === 1L, concat(col("ma"), col("mb")))
              .otherwise(col("sym")).as("sym"))
        val wPos = Window.partitionBy("word").orderBy("p")
        rebuilt.withColumn("b2", lead(col("sym"), 1).over(wPos))
          .filter(col("b2").isNotNull)
          .groupBy(col("sym").as("a"), col("b2").as("b"))
          .agg(sum(col("c")).as("pair_count"))
          .orderBy(col("pair_count").desc, col("a"), col("b")).limit(10)
          .crossJoin(broadcast(top1))
          .select(col("ma").as("merge_a"), col("mb").as("merge_b"),
            col("a"), col("b"), col("pair_count"))
          .orderBy(col("pair_count").desc, col("a"), col("b"))
      },
      Some(s"""
        WITH w AS (
          SELECT word, CAST(COUNT(*) AS BIGINT) AS c
          FROM (SELECT unnest($Toks) AS word FROM documents)
          WHERE length(word) BETWEEN 2 AND 20
          GROUP BY word
        ), p0 AS (
          SELECT word, c, u.j AS j, substring(word, u.j, 1) AS a,
                 substring(word, u.j + 1, 1) AS b
          FROM w, LATERAL (SELECT unnest(generate_series(1, length(word) - 1))
                           AS j) u
        ), top1 AS (
          SELECT a AS ma, b AS mb FROM (
            SELECT a, b, SUM(c) AS pc FROM p0 GROUP BY a, b
            ORDER BY pc DESC, a, b LIMIT 1)
        ), runs AS (
          SELECT p0.word AS word, p0.j AS j,
                 p0.j - row_number() OVER (PARTITION BY p0.word ORDER BY p0.j)
                   AS grp
          FROM p0, top1 WHERE p0.a = top1.ma AND p0.b = top1.mb
        ), sel AS (
          SELECT word, j FROM (
            SELECT word, j,
                   row_number() OVER (PARTITION BY word, grp ORDER BY j) AS rr
            FROM runs)
          WHERE rr % 2 = 1
        ), pos AS (
          SELECT word, c, u.p AS p, substring(word, u.p, 1) AS sym
          FROM w, LATERAL (SELECT unnest(generate_series(1, length(word)))
                           AS p) u
        ), reb AS (
          SELECT pos.word AS word, pos.c AS c, pos.p AS p,
                 CASE WHEN s1.j IS NOT NULL THEN top1.ma || top1.mb
                      ELSE pos.sym END AS sym
          FROM pos CROSS JOIN top1
          LEFT JOIN sel s1 ON s1.word = pos.word AND s1.j = pos.p
          LEFT JOIN sel s2 ON s2.word = pos.word AND s2.j + 1 = pos.p
          WHERE s2.j IS NULL
        ), nx AS (
          SELECT word, c, sym,
                 lead(sym) OVER (PARTITION BY word ORDER BY p) AS b2
          FROM reb
        ), pc1 AS (
          SELECT sym AS a, b2 AS b, CAST(SUM(c) AS BIGINT) AS pair_count
          FROM nx WHERE b2 IS NOT NULL GROUP BY 1, 2
          ORDER BY pair_count DESC, a, b LIMIT 10
        )
        SELECT top1.ma AS merge_a, top1.mb AS merge_b, pc1.a AS a, pc1.b AS b,
               pc1.pair_count AS pair_count
        FROM pc1, top1 ORDER BY pair_count DESC, a, b
      """.trim)),

    // Deterministic token-dropout augmentation — the EDA-style data
    // augmentation transform (each document re-emitted with ~10% of token
    // positions dropped), RNG-free: the drop decision is hash60(doc, pos)
    // mod 10, so the augmented corpus is bit-reproducible across runs and
    // engines — the property that makes augmented training sets cacheable
    // and auditable. Value-gated via the md5 of the augmented text (the
    // q436 convention: gate the transform bit-exactly without shipping
    // text); map-side explode + one per-doc rebuild aggregate,
    // corpus-linear.
    Q(
      "q460_token_dropout",
      (s, dir) => {
        val toks = Tables.documents(s, dir)
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("w"))
        toks
          .select(col("doc_id"),
            explode(sequence(lit(1), size(col("w")))).as("p"), col("w"))
          .select(col("doc_id"), col("p"),
            element_at(col("w"), col("p")).as("tok"))
          .withColumn("dropped",
            (graft.ext.TextHash.hash60(concat(lit("aug:"),
              col("doc_id").cast("string"), lit(":"),
              col("p").cast("string"))) % 10 === 0).cast("long"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sum(col("dropped")).as("n_dropped"),
            md5(array_join(transform(
              filter(sort_array(collect_list(
                struct(col("p"), col("tok"), col("dropped")))),
                r => r.getField("dropped") === 0L),
              r => r.getField("tok")), " ")).as("aug_fp"))
          .select(col("doc_id"), col("n_tokens"), col("n_dropped"), col("aug_fp"),
            ((col("n_tokens") - col("n_dropped")).cast("double")
              / col("n_tokens").cast("double")).as("keep_frac"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id, $Toks AS w FROM documents
        ), pos AS (
          SELECT doc_id, u.p AS p, u.tok AS tok
          FROM t, LATERAL (SELECT unnest(w) AS tok,
                           generate_subscripts(w, 1) AS p) u
        ), fl AS (
          SELECT doc_id, p, tok,
                 CASE WHEN ${graft.ext.TextHash.duckHash60(
                   "'aug:' || CAST(doc_id AS VARCHAR) || ':' || CAST(p AS VARCHAR)")}
                   % 10 = 0 THEN 1 ELSE 0 END AS dropped
          FROM pos
        )
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(dropped) AS BIGINT) AS n_dropped,
               md5(COALESCE(string_agg(tok, ' ' ORDER BY p)
                 FILTER (WHERE dropped = 0), '')) AS aug_fp,
               CAST(COUNT(*) - SUM(dropped) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                 AS keep_frac
        FROM fl GROUP BY doc_id ORDER BY doc_id
      """.trim)),

    // Curriculum ordering — the "present easy documents first" training
    // schedule: a total-order difficulty key (token count scaled to micro
    // plus doc_id as the unique tie-break), the GLOBAL curriculum rank
    // from the two-phase scalable rank (no single-task window at any
    // corpus size), and the 4-stage equi-depth bucket via the explicit
    // ntile size rule (Keys.ntileFromRank) — both engines compute the
    // bucket from (rank, n) arithmetic, trusting no engine ntile.
    Q(
      "q461_curriculum_order",
      (s, dir) => {
        val scored = Tables.documents(s, dir)
          .select(col("doc_id"),
            (size(TextAnalysis.tokens(col("text"))).cast("long") * 1000000L
              + col("doc_id")).as("difficulty_micro"))
        val ranked = graft.engine.Keys.rankByScalable(
          scored, Seq(col("difficulty_micro")), "curriculum_rank")
        ranked.crossJoin(broadcast(ranked.agg(count(lit(1)).as("n"))))
          .select(col("doc_id"), col("difficulty_micro"), col("curriculum_rank"),
            graft.engine.Keys.ntileFromRank(
              col("curriculum_rank"), col("n"), 4).as("stage"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH d AS (
          SELECT doc_id,
                 CAST(len($Toks) AS BIGINT) * 1000000 + doc_id
                   AS difficulty_micro
          FROM documents
        ), r AS (
          SELECT doc_id, difficulty_micro,
                 CAST(row_number() OVER (ORDER BY difficulty_micro) AS BIGINT)
                   AS curriculum_rank,
                 CAST(COUNT(*) OVER () AS BIGINT) AS n
          FROM d
        )
        SELECT doc_id, difficulty_micro, curriculum_rank,
               CAST(CASE WHEN curriculum_rank <= (n % 4) * (n // 4 + 1)
                    THEN (curriculum_rank - 1) // (n // 4 + 1)
                    ELSE (n % 4) + (curriculum_rank - (n % 4) * (n // 4 + 1) - 1)
                         // (n // 4)
                    END + 1 AS INTEGER) AS stage
        FROM r ORDER BY doc_id
      """.trim)),

    // observe() metrics gate — Spark's zero-extra-pass pipeline
    // instrumentation (CollectMetricsExec): the row-count and exact
    // decimal revenue total are OBSERVED on the scan feeding a group-by,
    // and the builder REQUIRES the observed values to equal the aggregate
    // recomputed from the gated output and an independent total — proving
    // the metrics seam reports the true stream, not a sample. This is the
    // production SLO-counter surface (rows read, bytes billed, sum checks)
    // that otherwise costs a second scan at 100 TB. The returned frame is
    // the plain aggregate, value-gated by the oracle as usual.
    Q(
      "q462_observe_metrics",
      (s, dir) => {
        val observed = Tables.orders(s, dir).observe("q462_metrics",
          count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("total_dec"))
        val gate = observed.groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(18,2)")).as("sales_dec"))
        val local = gate.collect()
        val metrics = gate.queryExecution.observedMetrics.get("q462_metrics")
        require(metrics.isDefined, "observe() metrics must be collected")
        val m = metrics.get
        require(m.getAs[Long]("n_rows")
          == local.map(_.getAs[Long]("n_orders")).sum,
          "observed row count must equal the aggregated total")
        val sumDec = local.map(r => BigDecimal(r.getAs[java.math.BigDecimal](
          "sales_dec"))).sum
        require(BigDecimal(m.getAs[java.math.BigDecimal]("total_dec")) == sumDec,
          "observed decimal revenue must equal the aggregated total")
        gate.select(col("o_orderstatus"), col("n_orders"),
            col("sales_dec").cast("double").as("sales"))
          .orderBy("o_orderstatus")
      },
      Some("""
        SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sales
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
      """.trim)),

    // NOT IN null-trap gate — the ANSI three-valued-logic hazard that
    // silently empties production anti-joins: `x NOT IN (subquery)` is
    // UNKNOWN for every x once the subquery contains a single NULL, so the
    // filter drops ALL rows — while `NOT EXISTS` (Spark's left_anti) keeps
    // its meaning. The query emits all three counts from the SAME probe
    // set: the null-poisoned NOT IN (gated at 0 — the planner must
    // implement null-aware anti-join semantics, not rewrite to left_anti),
    // the null-free NOT IN, and NOT EXISTS (which must agree). Exercises
    // Spark's null-aware anti join path, which the DataFrame API cannot
    // declare.
    Q(
      "q463_not_in_null_trap",
      (s, dir) => {
        Tables.orders(s, dir).createOrReplaceTempView("q463_orders")
        Tables.customer(s, dir).createOrReplaceTempView("q463_customer")
        s.sql(s"""
          WITH probe AS (
            SELECT o_custkey FROM q463_orders
            WHERE CAST(CONV(SUBSTRING(md5('ninp:' || CAST(o_orderkey AS STRING)),
              1, 15), 16, 10) AS BIGINT) % 5 = 0
            UNION ALL SELECT CAST(NULL AS BIGINT)
          )
          SELECT
            CAST((SELECT COUNT(*) FROM q463_customer
                  WHERE c_custkey NOT IN (SELECT o_custkey FROM probe))
              AS BIGINT) AS n_not_in_poisoned,
            CAST((SELECT COUNT(*) FROM q463_customer
                  WHERE c_custkey NOT IN (SELECT o_custkey FROM probe
                                          WHERE o_custkey IS NOT NULL))
              AS BIGINT) AS n_not_in_nullfree,
            CAST((SELECT COUNT(*) FROM q463_customer c
                  WHERE NOT EXISTS (SELECT 1 FROM probe p
                                    WHERE p.o_custkey = c.c_custkey))
              AS BIGINT) AS n_not_exists
        """)
      },
      Some(s"""
        WITH probe AS (
          SELECT o_custkey FROM orders
          WHERE ${graft.ext.TextHash.duckHash60(
            "'ninp:' || CAST(o_orderkey AS VARCHAR)")} % 5 = 0
          UNION ALL SELECT CAST(NULL AS BIGINT)
        )
        SELECT
          -- HARDCODED 0 (q435 enforced-gate convention): ANSI three-valued
          -- logic REQUIRES the null-poisoned NOT IN to drop every row; a
          -- Spark deviation fails the hash gate instead of being mirrored.
          CAST(0 AS BIGINT) AS n_not_in_poisoned,
          CAST((SELECT COUNT(*) FROM customer
                WHERE c_custkey NOT IN (SELECT o_custkey FROM probe
                                        WHERE o_custkey IS NOT NULL))
            AS BIGINT) AS n_not_in_nullfree,
          CAST((SELECT COUNT(*) FROM customer c
                WHERE NOT EXISTS (SELECT 1 FROM probe p
                                  WHERE p.o_custkey = c.c_custkey))
            AS BIGINT) AS n_not_exists
      """.trim)),

    // Metadata-column file census — Spark's hidden `_metadata` struct (the
    // DSv2 file-provenance surface): after a controlled single-partition
    // write with maxRecordsPerFile=1000, the reader groups by
    // _metadata.file_name and proves the writer's file-splitting contract
    // from INSIDE the query layer — file count = ceil(n/1000), no file
    // over the cap, no row lost. At 100 TB this column is how lineage,
    // quarantine-by-file, and bad-file re-processing work without a
    // filesystem listing. File names are nondeterministic, so only
    // name-free aggregates are emitted.
    Q(
      "q464_metadata_file_census",
      (s, dir) => {
        val path = graft.engine.Scratch.dir(s, dir, "meta_census")
        Tables.orders(s, dir).repartition(1)
          .write.mode("overwrite")
          .option("maxRecordsPerFile", "1000").parquet(path)
        val census = Sources.parquet(s, path)
          .select(col("_metadata.file_name").as("fn"))
          .groupBy("fn").agg(count(lit(1)).as("c"))
        census.agg(count(lit(1)).as("n_files"), sum(col("c")).as("n_rows"),
            max(col("c")).as("max_rows_per_file"))
          .select(col("n_files"), col("n_rows"), col("max_rows_per_file"),
            (col("max_rows_per_file") <= 1000L).cast("long").as("cap_held"))
      },
      Some("""
        SELECT CAST((COUNT(*) + 999) // 1000 AS BIGINT) AS n_files,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(LEAST(COUNT(*), 1000) AS BIGINT) AS max_rows_per_file,
               CAST(1 AS BIGINT) AS cap_held
        FROM orders
      """.trim)),

    // Typed cogroup reconciliation — the KeyValueGroupedDataset.cogroup
    // surface (the typed twin of a full-outer join + two aggregates, and
    // the shape custom per-key reconciliation logic takes when it outgrows
    // SQL): orders and customers cogrouped on the key, each group reduced
    // with ORDER-FREE exact arithmetic (count + exact BigDecimal sum with
    // the same HALF_UP scale-2 quantization as CAST(x AS DECIMAL(18,2)) —
    // group iterators carry no deterministic order, so only commutative
    // folds are legal inside). Like X24's typed Aggregator, this
    // deliberately exercises the typed API; the JVM lambda is a typed
    // operator, not a udf() registration.
    Q(
      "q465_typed_cogroup",
      (s, dir) => {
        import s.implicits._
        val o = Tables.orders(s, dir)
          .select(col("o_custkey"), col("o_totalprice")).as[(Long, Double)]
        val c = Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_acctbal")).as[(Long, Double)]
        o.groupByKey(_._1).cogroup(c.groupByKey(_._1)) { (k, os, cs) =>
          var n = 0L
          var sales = BigDecimal(0)
          os.foreach { t =>
            n += 1
            sales += BigDecimal(t._2)
              .setScale(2, scala.math.BigDecimal.RoundingMode.HALF_UP)
          }
          val cl = cs.toList
          Iterator((k, n, sales.toDouble, cl.size.toLong,
            cl.headOption.map(_._2).getOrElse(0.0)))
        }.toDF("custkey", "n_orders", "sales", "n_customer_rows", "acctbal")
          .orderBy("custkey")
      },
      Some("""
        WITH o AS (
          SELECT o_custkey AS custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sales
          FROM orders GROUP BY 1
        ), c AS (
          SELECT c_custkey AS custkey, CAST(COUNT(*) AS BIGINT)
                   AS n_customer_rows,
                 MAX(c_acctbal) AS acctbal
          FROM customer GROUP BY 1
        )
        SELECT COALESCE(o.custkey, c.custkey) AS custkey,
               COALESCE(o.n_orders, 0) AS n_orders,
               COALESCE(o.sales, 0.0) AS sales,
               COALESCE(c.n_customer_rows, 0) AS n_customer_rows,
               COALESCE(c.acctbal, 0.0) AS acctbal
        FROM o FULL JOIN c ON c.custkey = o.custkey
        ORDER BY custkey
      """.trim)),

    // Correlated scalar subqueries — the per-row-aggregate SQL surface the
    // planner must DECORRELATE into joins (a nested-loop execution would
    // be quadratic at any scale): customers above their nation's mean
    // balance, with the mean comparison kept EXACT by cross-multiplying
    // decimals (bal * n > sum) instead of dividing — no double mean, no
    // rounding-mode exposure. Two correlated scalars per row, both
    // decorrelated to one grouped aggregate each.
    Q(
      "q466_correlated_scalar",
      (s, dir) => {
        Tables.customer(s, dir).createOrReplaceTempView("q466_customer")
        s.sql("""
          SELECT c_custkey, c_nationkey,
                 CAST(c_acctbal AS DOUBLE) AS acctbal
          FROM q466_customer c
          WHERE CAST(c_acctbal AS DECIMAL(18,2))
                * (SELECT COUNT(*) FROM q466_customer c2
                   WHERE c2.c_nationkey = c.c_nationkey)
              > (SELECT SUM(CAST(c2.c_acctbal AS DECIMAL(18,2)))
                 FROM q466_customer c2
                 WHERE c2.c_nationkey = c.c_nationkey)
          ORDER BY c_custkey
        """)
      },
      Some("""
        SELECT c_custkey, c_nationkey, CAST(c_acctbal AS DOUBLE) AS acctbal
        FROM customer c
        WHERE CAST(c_acctbal AS DECIMAL(18,2))
              * (SELECT COUNT(*) FROM customer c2
                 WHERE c2.c_nationkey = c.c_nationkey)
            > (SELECT SUM(CAST(c2.c_acctbal AS DECIMAL(18,2)))
               FROM customer c2
               WHERE c2.c_nationkey = c.c_nationkey)
        ORDER BY c_custkey
      """.trim)),

    // from_json schema-first parsing — the classic typed-JSON-column
    // surface (the pre-VARIANT path q347/X-variant complement): the props
    // string parses against an EXPLICIT schema (the production contract —
    // schema inference on a 100 TB column is a full extra scan), and the
    // same field extracted via get_json_object (the schemaless probe API)
    // must agree — both sums emitted and gated equal. Malformed documents
    // land as NULL, counted not dropped (PERMISSIVE mode semantics).
    Q(
      "q467_from_json_parse",
      (s, dir) => {
        val parsed = Tables.events(s, dir)
          .select(col("event_type"),
            from_json(col("props"),
              org.apache.spark.sql.types.StructType.fromDDL("k INT"))
              .getField("k").as("k_typed"),
            get_json_object(col("props"), "$.k").cast("int").as("k_probe"))
        parsed.groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(col("k_typed").cast("long")).as("sum_k"),
            sum(col("k_probe").cast("long")).as("sum_k_probe"),
            sum(col("k_typed").isNull.cast("long")).as("n_unparsed"))
          .withColumn("paths_agree",
            (col("sum_k") === col("sum_k_probe")).cast("long"))
          .orderBy("event_type")
      },
      Some("""
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(props->>'k' AS INTEGER)) AS BIGINT) AS sum_k,
               CAST(SUM(CAST(props->>'k' AS INTEGER)) AS BIGINT) AS sum_k_probe,
               CAST(SUM(CASE WHEN props->>'k' IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_unparsed,
               CAST(1 AS BIGINT) AS paths_agree
        FROM events GROUP BY event_type ORDER BY event_type
      """.trim)),

    // Batch session_window — Spark's built-in gap-based sessionization in
    // BATCH mode (the declarative twin of ST3's stateful streaming
    // sessionizer and of the relational gaps-and-islands form): one
    // groupBy(session_window(ts, '30 minutes'), user) — no window
    // function, no state store — then a per-user rollup. The oracle
    // derives the same sessions from first principles (new session iff
    // the gap from the previous event is >= 30 minutes, microsecond-exact
    // interval compare), so the builtin's merge semantics are value-gated
    // against the definition rather than mirrored.
    Q(
      "q468_session_window_batch",
      (s, dir) => {
        val sessions = Tables.events(s, dir)
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
        sessions.groupBy("user_id")
          .agg(count(lit(1)).as("n_sessions"),
            sum(col("n_events")).as("n_events"),
            max(col("n_events")).as("max_session_events"))
          .orderBy("user_id")
      },
      Some("""
        WITH flagged AS (
          SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                        IS NULL THEN 1
                      WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                        >= INTERVAL '30 minutes' THEN 1
                      ELSE 0 END AS new_s
          FROM events
        ), sess AS (
          SELECT user_id,
                 SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM flagged
        ), per AS (
          SELECT user_id, sid, CAST(COUNT(*) AS BIGINT) AS n_events
          FROM sess GROUP BY 1, 2
        )
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_sessions,
               CAST(SUM(n_events) AS BIGINT) AS n_events,
               CAST(MAX(n_events) AS BIGINT) AS max_session_events
        FROM per GROUP BY user_id ORDER BY user_id
      """.trim)),

    // Higher-order-function algebra — the array-lambda surface (filter /
    // exists / forall / transform / aggregate) exercised as one gate over
    // the token arrays: these are the codegen-friendly per-row kernels
    // that replace UDFs in the zero-UDF discipline, so their exact
    // semantics (null handling, empty arrays, short-circuit) deserve a
    // value gate of their own. The oracle restates each lambda
    // relationally (list_filter / EXISTS-style length tests / list
    // arithmetic), trusting no shared implementation.
    Q(
      "q469_hof_algebra",
      (s, dir) => {
        val t = Tables.documents(s, dir)
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("w"))
        t.select(col("doc_id"),
            size(col("w")).cast("long").as("n_tokens"),
            size(filter(col("w"), x => length(x) > 5)).cast("long").as("n_long"),
            exists(col("w"), x => x === "hash").cast("long").as("has_hash"),
            forall(col("w"), x => length(x) <= 12).cast("long").as("all_short"),
            aggregate(transform(col("w"), x => length(x).cast("long")),
              lit(0L), (acc, x) => acc + x).as("total_chars"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id, $Toks AS w FROM documents
        )
        SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
               CAST(len(list_filter(w, x -> length(x) > 5)) AS BIGINT)
                 AS n_long,
               CAST(CASE WHEN len(list_filter(w, x -> x = 'hash')) > 0
                    THEN 1 ELSE 0 END AS BIGINT) AS has_hash,
               CAST(CASE WHEN len(list_filter(w, x -> length(x) > 12)) = 0
                    THEN 1 ELSE 0 END AS BIGINT) AS all_short,
               CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT)
                 AS total_chars
        FROM t ORDER BY doc_id
      """.trim)),

    // Functional-dependency discovery — the schema-profiling operator
    // (Metanome-style, restricted to a fixed candidate set): for each
    // candidate FD lhs -> rhs, one hash aggregate counts the lhs groups
    // with more than one distinct rhs value; holds iff none violate.
    // This is how silent denormalization drift (a "dimension" column that
    // stopped being functionally determined) gets caught in a 100 TB
    // warehouse — each candidate costs one groupBy, never a self-join.
    // The fixture set mixes true FDs (key -> attribute) with false ones,
    // so both verdicts are exercised.
    Q(
      "q470_fd_discovery",
      (s, dir) => {
        def fd(df: DataFrame, lhs: String, rhs: String): DataFrame = df
          .groupBy(col(lhs)).agg(countDistinct(col(rhs)).as("nd"))
          .agg(count(lit(1)).as("n_lhs"),
            sum((col("nd") > 1L).cast("long")).as("n_violating"))
          .select(lit(s"$lhs->$rhs").as("fd"), col("n_lhs"), col("n_violating"),
            (col("n_violating") === 0L).cast("long").as("holds"))
        val o = Tables.orders(s, dir)
        val c = Tables.customer(s, dir)
        fd(o, "o_orderkey", "o_custkey")
          .unionAll(fd(o, "o_custkey", "o_orderstatus"))
          .unionAll(fd(o, "o_orderdate", "o_orderpriority"))
          .unionAll(fd(c, "c_custkey", "c_nationkey"))
          .unionAll(fd(c, "c_nationkey", "c_mktsegment"))
          .orderBy("fd")
      },
      Some("""
        WITH cand AS (
          SELECT 'o_orderkey->o_custkey' AS fd, CAST(o_orderkey AS VARCHAR)
                   AS lhs, CAST(o_custkey AS VARCHAR) AS rhs FROM orders
          UNION ALL
          SELECT 'o_custkey->o_orderstatus', CAST(o_custkey AS VARCHAR),
                 o_orderstatus FROM orders
          UNION ALL
          SELECT 'o_orderdate->o_orderpriority', CAST(o_orderdate AS VARCHAR),
                 o_orderpriority FROM orders
          UNION ALL
          SELECT 'c_custkey->c_nationkey', CAST(c_custkey AS VARCHAR),
                 CAST(c_nationkey AS VARCHAR) FROM customer
          UNION ALL
          SELECT 'c_nationkey->c_mktsegment', CAST(c_nationkey AS VARCHAR),
                 c_mktsegment FROM customer
        ), g AS (
          SELECT fd, lhs, COUNT(DISTINCT rhs) AS nd
          FROM cand GROUP BY fd, lhs
        )
        SELECT fd, CAST(COUNT(*) AS BIGINT) AS n_lhs,
               CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_violating,
               CAST(CASE WHEN SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0
                    THEN 1 ELSE 0 END AS BIGINT) AS holds
        FROM g GROUP BY fd ORDER BY fd
      """.trim)),

    // Keyspace gap audit — sequence-completeness profiling for surrogate /
    // source keys: per 1000-wide key bucket, the present count, the missing
    // count against the bucket's in-range span, and the largest internal
    // gap (lead over a PARTITIONED window — bucket-local, never a global
    // sort). The global frontier (min/max) rides the broadcast single-row
    // aggregate. This is the "did the loader drop a range" audit that
    // otherwise needs a full sort at 100 TB; bucketing keeps every operator
    // hash-partitioned. The fixture keyspace is dense, so a deterministic
    // 2%-loss fault (hash60 % 50 = 0) is injected upstream — the audit must
    // localize every injected hole.
    Q(
      "q471_keyspace_gap_audit",
      (s, dir) => {
        val k = Tables.orders(s, dir)
          .filter(graft.ext.TextHash.hash60(concat(lit("loss:"),
            col("o_orderkey").cast("string"))) % 50 =!= 0)
          .select(col("o_orderkey").as("k"),
            expr("o_orderkey DIV 1000").as("bucket"))
        val frontier = k.agg(min(col("k")).as("kmin"), max(col("k")).as("kmax"))
        val wB = Window.partitionBy("bucket").orderBy("k")
        val gaps = k.withColumn("nk", lead(col("k"), 1).over(wB))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_present"),
            min(col("k")).as("bmin"), max(col("k")).as("bmax"),
            max(when(col("nk").isNotNull, col("nk") - col("k") - 1L))
              .as("max_internal_gap"))
        gaps.crossJoin(broadcast(frontier))
          .select(col("bucket"), col("n_present"),
            (least(col("bucket") * 1000L + 999L, col("kmax"))
              - greatest(col("bucket") * 1000L, col("kmin")) + 1L
              - col("n_present")).as("n_missing_in_range"),
            coalesce(col("max_internal_gap"), lit(0L)).as("max_internal_gap"))
          .orderBy("bucket")
      },
      Some(s"""
        WITH k AS (
          SELECT o_orderkey AS k, o_orderkey // 1000 AS bucket FROM orders
          WHERE ${graft.ext.TextHash.duckHash60(
            "'loss:' || CAST(o_orderkey AS VARCHAR)")} % 50 <> 0
        ), f AS (
          SELECT MIN(k) AS kmin, MAX(k) AS kmax FROM k
        ), g AS (
          SELECT bucket, k,
                 lead(k) OVER (PARTITION BY bucket ORDER BY k) AS nk
          FROM k
        ), b AS (
          SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_present,
                 MAX(CASE WHEN nk IS NOT NULL THEN nk - k - 1 END)
                   AS max_internal_gap
          FROM g GROUP BY bucket
        )
        SELECT bucket, n_present,
               CAST(LEAST(bucket * 1000 + 999, f.kmax)
                 - GREATEST(bucket * 1000, f.kmin) + 1
                 - n_present AS BIGINT) AS n_missing_in_range,
               CAST(COALESCE(max_internal_gap, 0) AS BIGINT)
                 AS max_internal_gap
        FROM b, f ORDER BY bucket
      """.trim)),

    // Difference-in-differences estimator — the workhorse causal-inference
    // layout (2x2 treatment x period cell means, the parallel-trends
    // counterfactual) beside the associational stats (q287 z-test, q426
    // permutation): treatment by deterministic user hash, period by the
    // calendar cut, per-cell EXACT decimal sums and integer counts
    // emitted as auditable cents/counts, and the DiD itself ONE shared
    // fixed IEEE tree over the four exact-ratio means (quantized to 1e-4).
    // One conditional-aggregation pass — four cells, no joins.
    Q(
      "q472_did_estimator",
      (s, dir) => {
        val base = Tables.events(s, dir).select(
          (graft.ext.TextHash.hash60(concat(lit("did:"),
            col("user_id").cast("string"))) % 2 === 1).cast("int").as("t"),
          (col("ts").cast("date") >= lit("2024-01-16").cast("date"))
            .cast("int").as("post"),
          col("value").cast("decimal(18,2)").as("v"))
        def cell(tv: Int, pv: Int, sfx: String) = Seq(
          sum(when(col("t") === tv && col("post") === pv, col("v")))
            .cast("decimal(18,2)").as(s"s_$sfx"),
          sum(when(col("t") === tv && col("post") === pv, 1L).otherwise(0L))
            .as(s"n_$sfx"))
        val allCells = cell(1, 1, "t_post") ++ cell(1, 0, "t_pre") ++
          cell(0, 1, "c_post") ++ cell(0, 0, "c_pre")
        val cells = base.agg(allCells.head, allCells.tail: _*)
        def mean(sfx: String) =
          col(s"s_$sfx").cast("double") / col(s"n_$sfx").cast("double")
        cells.select(
          (col("s_t_post") * 100).cast("long").as("cents_t_post"),
          col("n_t_post"),
          (col("s_t_pre") * 100).cast("long").as("cents_t_pre"),
          col("n_t_pre"),
          (col("s_c_post") * 100).cast("long").as("cents_c_post"),
          col("n_c_post"),
          (col("s_c_pre") * 100).cast("long").as("cents_c_pre"),
          col("n_c_pre"),
          when(least(col("n_t_post"), col("n_t_pre"), col("n_c_post"),
              col("n_c_pre")) > 0L,
            round(((mean("t_post") - mean("t_pre"))
              - (mean("c_post") - mean("c_pre"))) * 10000).cast("long"))
            .otherwise(0L).as("did_c4"))
      },
      Some(s"""
        WITH base AS (
          SELECT CASE WHEN ${graft.ext.TextHash.duckHash60(
              "'did:' || CAST(user_id AS VARCHAR)")} % 2 = 1
                 THEN 1 ELSE 0 END AS t,
                 CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                 THEN 1 ELSE 0 END AS post,
                 CAST(value AS DECIMAL(18,2)) AS v
          FROM events
        ), cells AS (
          SELECT
            CAST(SUM(CASE WHEN t = 1 AND post = 1 THEN v END)
              AS DECIMAL(18,2)) AS s_t_post,
            CAST(SUM(CASE WHEN t = 1 AND post = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_t_post,
            CAST(SUM(CASE WHEN t = 1 AND post = 0 THEN v END)
              AS DECIMAL(18,2)) AS s_t_pre,
            CAST(SUM(CASE WHEN t = 1 AND post = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_t_pre,
            CAST(SUM(CASE WHEN t = 0 AND post = 1 THEN v END)
              AS DECIMAL(18,2)) AS s_c_post,
            CAST(SUM(CASE WHEN t = 0 AND post = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_c_post,
            CAST(SUM(CASE WHEN t = 0 AND post = 0 THEN v END)
              AS DECIMAL(18,2)) AS s_c_pre,
            CAST(SUM(CASE WHEN t = 0 AND post = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_c_pre
          FROM base
        )
        SELECT CAST(s_t_post * 100 AS BIGINT) AS cents_t_post, n_t_post,
               CAST(s_t_pre * 100 AS BIGINT) AS cents_t_pre, n_t_pre,
               CAST(s_c_post * 100 AS BIGINT) AS cents_c_post, n_c_post,
               CAST(s_c_pre * 100 AS BIGINT) AS cents_c_pre, n_c_pre,
               CASE WHEN LEAST(n_t_post, n_t_pre, n_c_post, n_c_pre) > 0
                    THEN CAST(round(((CAST(s_t_post AS DOUBLE)
                             / CAST(n_t_post AS DOUBLE)
                           - CAST(s_t_pre AS DOUBLE)
                             / CAST(n_t_pre AS DOUBLE))
                          - (CAST(s_c_post AS DOUBLE)
                             / CAST(n_c_post AS DOUBLE)
                           - CAST(s_c_pre AS DOUBLE)
                             / CAST(n_c_pre AS DOUBLE))) * 10000) AS BIGINT)
                    ELSE 0 END AS did_c4
        FROM cells
      """.trim)),

    // Benjamini-Hochberg FDR correction — the multiple-comparison layer
    // q426's single permutation test lacks: one permutation test PER
    // event type (even-vs-odd-user mean difference, P=32 hash-seeded
    // label exchanges, the q426 binomial-randomization shape), p-values
    // kept as EXACT rationals (1 + n_ge) / 33, and the BH step-up rule
    // evaluated by integer cross-multiplication (p <= k*alpha/m iff
    // p_num*100 <= k*33 at alpha=.05, m=5) — no floating p anywhere. The
    // per-type rank is a 5-row self-join, the step-up frontier one
    // broadcast aggregate.
    Q(
      "q473_bh_fdr",
      (s, dir) => {
        val P = 32
        val base = Tables.events(s, dir).select(
          col("event_type"),
          concat(col("user_id").cast("string"), lit("@"),
            col("event_id").cast("string")).as("uid"),
          col("value").cast("decimal(18,2)").as("x"),
          (col("user_id") % 2 === 0).cast("int").as("is_a"))
          .repartition(col("uid"))
        val diffC4 = (sa: org.apache.spark.sql.Column,
            ca: org.apache.spark.sql.Column, sb: org.apache.spark.sql.Column,
            cb: org.apache.spark.sql.Column) =>
          round((sa.cast("double") / ca.cast("double")
            - sb.cast("double") / cb.cast("double")) * 10000).cast("long")
        val thr = base.groupBy("event_type").agg(
          floor(sum(col("is_a").cast("long")).cast("double")
            / count(lit(1)).cast("double") * lit(1152921504606846976.0))
            .cast("long").as("thr"))
        val obs = base.groupBy("event_type").agg(
          sum(when(col("is_a") === 1, col("x"))).as("sa"),
          sum(col("is_a").cast("long")).as("ca"),
          sum(when(col("is_a") === 0, col("x"))).as("sb"),
          count(lit(1)).as("cn"))
          .select(col("event_type"), diffC4(col("sa"), col("ca"), col("sb"),
            col("cn") - col("ca")).as("obs_c4"))
        val perms = base
          .join(broadcast(thr), Seq("event_type"))
          .select(col("event_type"), col("uid"), col("x"), col("thr"),
            explode(sequence(lit(0), lit(P - 1))).as("perm"))
          .select(col("event_type"), col("perm"), col("x"),
            (graft.ext.TextHash.hash60(concat(col("uid"), lit("#bh"),
              col("perm").cast("string"))) < col("thr")).cast("int").as("pa"))
          .groupBy("event_type", "perm")
          .agg(sum(when(col("pa") === 1, col("x"))).as("sa"),
            sum(col("pa").cast("long")).as("ca"),
            sum(when(col("pa") === 0, col("x"))).as("sb"),
            count(lit(1)).as("cn"))
          .select(col("event_type"), diffC4(col("sa"), col("ca"), col("sb"),
            col("cn") - col("ca")).as("diff_c4"))
        val pvals = perms.join(obs.hint("shuffle_hash"), Seq("event_type"))
          .groupBy("event_type")
          .agg((lit(1L) + sum((abs(col("diff_c4")) >= abs(col("obs_c4")))
            .cast("long"))).as("p_num"))
        val ranked = pvals.as("a").join(pvals.as("b"),
            col("b.p_num") < col("a.p_num")
              || (col("b.p_num") === col("a.p_num")
                && col("b.event_type") <= col("a.event_type")), "left")
          .groupBy(col("a.event_type").as("event_type"),
            col("a.p_num").as("p_num"))
          .agg(count(col("b.event_type")).as("rank"))
          .withColumn("bh_ok",
            (col("p_num") * 100L <= col("rank") * 33L).cast("long"))
        val kmax = ranked.agg(
          coalesce(max(when(col("bh_ok") === 1L, col("rank"))), lit(0L))
            .as("kmax"))
        ranked.crossJoin(broadcast(kmax))
          .select(col("event_type"), col("p_num"), col("rank"), col("bh_ok"),
            (col("rank") <= col("kmax")).cast("long").as("rejected"))
          .orderBy("event_type")
      },
      Some(s"""
        WITH base AS (
          SELECT event_type,
                 CAST(user_id AS VARCHAR) || '@' || CAST(event_id AS VARCHAR)
                   AS uid,
                 CAST(value AS DECIMAL(18,2)) AS x,
                 CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS is_a
          FROM events
        ), thr AS (
          SELECT event_type,
                 CAST(floor(CAST(SUM(is_a) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) * 1152921504606846976.0)
                   AS BIGINT) AS thr
          FROM base GROUP BY event_type
        ), obs AS (
          SELECT event_type,
                 CAST(round((CAST(SUM(CASE WHEN is_a = 1 THEN x END) AS DOUBLE)
                       / CAST(SUM(is_a) AS DOUBLE)
                     - CAST(SUM(CASE WHEN is_a = 0 THEN x END) AS DOUBLE)
                       / CAST(COUNT(*) - SUM(is_a) AS DOUBLE)) * 10000)
                     AS BIGINT) AS obs_c4
          FROM base GROUP BY event_type
        ), pr AS (
          SELECT b.event_type, p.perm, b.x,
                 CASE WHEN ${graft.ext.TextHash.duckHash60(
                   "b.uid || '#bh' || CAST(p.perm AS VARCHAR)")}
                      < thr.thr THEN 1 ELSE 0 END AS pa
          FROM base b
          JOIN thr ON thr.event_type = b.event_type
          CROSS JOIN (SELECT unnest(range(32)) AS perm) p
        ), pd AS (
          SELECT event_type, perm,
                 CAST(round((CAST(SUM(CASE WHEN pa = 1 THEN x END) AS DOUBLE)
                       / CAST(SUM(pa) AS DOUBLE)
                     - CAST(SUM(CASE WHEN pa = 0 THEN x END) AS DOUBLE)
                       / CAST(COUNT(*) - SUM(pa) AS DOUBLE)) * 10000)
                     AS BIGINT) AS diff_c4
          FROM pr GROUP BY event_type, perm
        ), pv AS (
          SELECT pd.event_type AS event_type,
                 1 + CAST(SUM(CASE WHEN abs(pd.diff_c4) >= abs(obs.obs_c4)
                   THEN 1 ELSE 0 END) AS BIGINT) AS p_num
          FROM pd JOIN obs ON obs.event_type = pd.event_type
          GROUP BY pd.event_type
        ), rk AS (
          SELECT a.event_type AS event_type, a.p_num AS p_num,
                 CAST(COUNT(b.event_type) AS BIGINT) AS rank,
                 CAST(CASE WHEN a.p_num * 100 <= COUNT(b.event_type) * 33
                   THEN 1 ELSE 0 END AS BIGINT) AS bh_ok
          FROM pv a LEFT JOIN pv b
            ON b.p_num < a.p_num
            OR (b.p_num = a.p_num AND b.event_type <= a.event_type)
          GROUP BY a.event_type, a.p_num
        ), km AS (
          SELECT COALESCE(MAX(CASE WHEN bh_ok = 1 THEN rank END), 0) AS kmax
          FROM rk
        )
        SELECT rk.event_type AS event_type, rk.p_num AS p_num,
               rk.rank AS rank, rk.bh_ok AS bh_ok,
               CAST(CASE WHEN rk.rank <= km.kmax THEN 1 ELSE 0 END AS BIGINT)
                 AS rejected
        FROM rk, km ORDER BY event_type
      """.trim)),

    // Edge embeddedness & local bridges — Granovetter tie-strength over
    // the mutual-kNN graph, the EDGE-level complement of q437 (which
    // scores NON-edges by the same common-neighborhood signal): per edge,
    // embeddedness = |N(u) & N(v)| (triangle support), local-bridge flag
    // (embeddedness 0 — removing the edge pushes u,v at least 3 hops
    // apart, the weak ties that connect duplication communities), and the
    // neighborhood-Jaccard tie strength in integer micro floor units.
    // One 2-path hash join bounded by the degree cap, two degree probes —
    // the q195 triangle discipline on the kNN substrate.
    Q(
      "q474_edge_embeddedness",
      (s, dir) => {
        val mu = mutualKnnEdges(s, dir)
        val und = mu.select(col("id_a").as("u"), col("id_b").as("v"))
          .unionAll(mu.select(col("id_b").as("u"), col("id_a").as("v")))
        val deg = und.groupBy("u").agg(count(lit(1)).as("deg"))
        val common = mu
          .join(und.select(col("u").as("id_a"), col("v").as("w"))
            .hint("shuffle_hash"), Seq("id_a"))
          .join(und.select(col("u").as("id_b"), col("v").as("w"))
            .hint("shuffle_hash"), Seq("id_b", "w"))
          .groupBy("id_a", "id_b").agg(count(lit(1)).as("emb"))
        mu.join(common.hint("shuffle_hash"), Seq("id_a", "id_b"), "left")
          .join(deg.select(col("u").as("id_a"), col("deg").as("da"))
            .hint("shuffle_hash"), Seq("id_a"))
          .join(deg.select(col("u").as("id_b"), col("deg").as("db"))
            .hint("shuffle_hash"), Seq("id_b"))
          .select(col("id_a"), col("id_b"),
            coalesce(col("emb"), lit(0L)).as("embeddedness"),
            col("da"), col("db"))
          .withColumn("is_local_bridge",
            (col("embeddedness") === 0L).cast("long"))
          .withColumn("jaccard_micro",
            // an isolated edge (both endpoints degree 1) has an empty
            // neighborhood union — guard the division in BOTH engines
            expr("CAST(CASE WHEN da + db - 2 - embeddedness > 0 THEN " +
              "embeddedness * 1000000 DIV (da + db - 2 - embeddedness) " +
              "ELSE 0 END AS BIGINT)"))
          .orderBy("id_a", "id_b")
      },
      Some(s"""
        $MutualKnnCte, und AS (
          SELECT id_a AS u, id_b AS v FROM mu
          UNION ALL SELECT id_b AS u, id_a AS v FROM mu
        ), deg AS (
          SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM und GROUP BY u
        ), cm AS (
          SELECT mu.id_a AS id_a, mu.id_b AS id_b,
                 CAST(COUNT(*) AS BIGINT) AS emb
          FROM mu
          JOIN und a ON a.u = mu.id_a
          JOIN und b ON b.u = mu.id_b AND b.v = a.v
          GROUP BY mu.id_a, mu.id_b
        )
        SELECT mu.id_a AS id_a, mu.id_b AS id_b,
               COALESCE(cm.emb, 0) AS embeddedness,
               d1.deg AS da, d2.deg AS db,
               CAST(CASE WHEN COALESCE(cm.emb, 0) = 0 THEN 1 ELSE 0 END
                 AS BIGINT) AS is_local_bridge,
               CAST(CASE WHEN d1.deg + d2.deg - 2 - COALESCE(cm.emb, 0) > 0
                    THEN COALESCE(cm.emb, 0) * 1000000
                         // (d1.deg + d2.deg - 2 - COALESCE(cm.emb, 0))
                    ELSE 0 END AS BIGINT) AS jaccard_micro
        FROM mu
        LEFT JOIN cm ON cm.id_a = mu.id_a AND cm.id_b = mu.id_b
        JOIN deg d1 ON d1.u = mu.id_a
        JOIN deg d2 ON d2.u = mu.id_b
        ORDER BY id_a, id_b
      """.trim)),

    // Exact Mann-Whitney AUC — the rank statistic behind both the
    // Wilcoxon test and classifier ROC-AUC ("does value separate
    // purchases from the rest"), computed EXACTLY with midrank tie
    // handling and zero floating ranks: doubled midrank per tied value
    // group = min_rank + max_rank (integers from the two-phase scalable
    // global rank), 2U = sum over positives of (min+max) - n1(n1+1), and
    // AUC in micro units by one integer floor division. Values quantized
    // to cents first (they are stored money), so the tie groups are
    // engine-identical. No window: ranks ride rankByScalable, the tie
    // rollup is one hash aggregate.
    Q(
      "q475_mann_whitney_auc",
      (s, dir) => {
        val base = Tables.events(s, dir).select(
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"),
          (col("event_type") === "purchase").cast("long").as("pos"))
        val ranked = graft.engine.Keys.rankByScalable(
          base, Seq(col("cents"), col("pos")), "r")
        val groups = ranked.groupBy("cents")
          .agg(min(col("r")).as("rmin"), max(col("r")).as("rmax"),
            sum(col("pos")).as("c1"), count(lit(1)).as("ct"))
        val sums = groups.agg(
          sum(col("c1") * (col("rmin") + col("rmax"))).as("r2_pos"),
          sum(col("c1")).as("n1"), sum(col("ct")).as("n"))
        sums.select(col("n1"), (col("n") - col("n1")).as("n0"),
            (col("r2_pos") - col("n1") * (col("n1") + 1L)).as("u2"))
          .select(col("n1"), col("n0"), col("u2"),
            expr("CAST(u2 * 1000000 DIV (2 * n1 * n0) AS BIGINT)")
              .as("auc_micro"))
      },
      Some("""
        WITH base AS (
          SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
          FROM events
        ), ranked AS (
          SELECT cents, pos,
                 CAST(row_number() OVER (ORDER BY cents, pos) AS BIGINT) AS r
          FROM base
        ), groups AS (
          SELECT cents, MIN(r) AS rmin, MAX(r) AS rmax,
                 CAST(SUM(pos) AS BIGINT) AS c1, COUNT(*) AS ct
          FROM ranked GROUP BY cents
        ), sums AS (
          SELECT CAST(SUM(c1 * (rmin + rmax)) AS BIGINT) AS r2_pos,
                 CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(ct) AS BIGINT) AS n
          FROM groups
        )
        SELECT n1, n - n1 AS n0,
               r2_pos - n1 * (n1 + 1) AS u2,
               CAST((r2_pos - n1 * (n1 + 1)) * 1000000
                 // (2 * n1 * (n - n1)) AS BIGINT) AS auc_micro
        FROM sums
      """.trim)),

    // Calibration curve (reliability diagram) — the model-eval companion
    // to q475's discrimination: a deterministic [0,1] score (value/100,
    // clamped) against the purchase outcome across 10 FIXED bins; per bin
    // the exact count, mean predicted score in micro units (integer cents
    // arithmetic), observed positive rate in micro units, and the signed
    // calibration gap — all integer floor divisions, no floating mean.
    // Fixed-width bins make the sketch mergeable (the q453 discipline).
    Q(
      "q476_calibration_curve",
      (s, dir) => {
        val base = Tables.events(s, dir).select(
          least((col("value").cast("decimal(18,2)") * 100).cast("long"),
            lit(9999L)).as("score_c4"),
          (col("event_type") === "purchase").cast("long").as("pos"))
        base
          .withColumn("bin", expr("CAST(score_c4 DIV 1000 AS INT)"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n"), sum(col("score_c4")).as("s_c4"),
            sum(col("pos")).as("n_pos"))
          .select(col("bin"), col("n"),
            expr("CAST(s_c4 * 100 DIV n AS BIGINT)").as("mean_score_micro"),
            expr("CAST(n_pos * 1000000 DIV n AS BIGINT)").as("pos_rate_micro"))
          .withColumn("gap_micro",
            col("pos_rate_micro") - col("mean_score_micro"))
          .orderBy("bin")
      },
      Some("""
        WITH base AS (
          SELECT LEAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT),
                   9999) AS score_c4,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
          FROM events
        ), b AS (
          SELECT CAST(score_c4 // 1000 AS INTEGER) AS bin,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(score_c4) AS BIGINT) AS s_c4,
                 CAST(SUM(pos) AS BIGINT) AS n_pos
          FROM base GROUP BY 1
        )
        SELECT bin, n,
               CAST(s_c4 * 100 // n AS BIGINT) AS mean_score_micro,
               CAST(n_pos * 1000000 // n AS BIGINT) AS pos_rate_micro,
               CAST(n_pos * 1000000 // n - s_c4 * 100 // n AS BIGINT)
                 AS gap_micro
        FROM b ORDER BY bin
      """.trim)),

    // Sliding-window chunking with overlap — the RAG/embedding chunker
    // (window 32, stride 24, overlap 8) beside q128's disjoint chunks:
    // per document, the chunk census (ceil(n/24) windows), the exact
    // overlap mass (total chunk tokens minus n — the embedding-cost tax
    // of the overlap), and the ROUND-TRIP proof: dropping the first 8
    // tokens of every non-first chunk and reassembling in chunk order
    // must rebuild the document bit-exactly (md5 value gate; the match
    // flag is HARDCODED 1 in the oracle, so a boundary error fails the
    // hash, q435 convention). Bounded explode (ceil(n/24) per doc), one
    // per-doc rebuild aggregate — corpus-linear.
    Q(
      "q477_overlap_chunking",
      (s, dir) => {
        val toks = Tables.documents(s, dir)
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("w"))
          .withColumn("n", size(col("w")).cast("long"))
        // greatest(n-1, 0): makes the zero-token edge explicit (one empty
        // chunk in BOTH engines) instead of leaning on the engines' shared
        // truncate-toward-zero integer division for the n=0 case (ADVICE
        // r7; both DO truncate — DuckDB (-1)//24 = 0, re-verified — but
        // the guard removes the dependence).
        val chunks = toks
          .select(col("doc_id"), col("w"), col("n"),
            explode(sequence(lit(0L), expr("greatest(n - 1, 0L) DIV 24"))).as("idx"))
          .withColumn("s0", col("idx") * 24L)
          .withColumn("full_len",
            least(lit(32L), col("n") - col("s0")))
          .withColumn("kept",
            expr("slice(w, CAST(s0 + 1 + IF(idx > 0, 8, 0) AS INT), " +
              "CAST(IF(idx > 0, 24, 32) AS INT))"))
        chunks.groupBy("doc_id")
          .agg(max(col("n")).as("n_tokens"),
            count(lit(1)).as("n_chunks"),
            sum(col("full_len")).as("chunk_token_mass"),
            md5(array_join(flatten(transform(
              filter(sort_array(collect_list(struct(col("idx"), col("kept")))),
                r => size(r.getField("kept")) > 0),
              r => r.getField("kept"))), " ")).as("reassembled_fp"),
            // w is constant within the doc group, so first() is deterministic
            md5(array_join(first(col("w")), " ")).as("orig_fp"))
          .select(col("doc_id"), col("n_tokens"), col("n_chunks"),
            (col("chunk_token_mass") - col("n_tokens")).as("overlap_tokens"),
            (col("reassembled_fp") === col("orig_fp")).cast("long")
              .as("roundtrip_ok"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id, $Toks AS w, CAST(len($Toks) AS BIGINT) AS n
          FROM documents
        ), ch AS (
          SELECT doc_id, n, u.idx AS idx,
                 LEAST(32, n - u.idx * 24) AS full_len
          FROM t, LATERAL (SELECT unnest(generate_series(0, GREATEST(n - 1, 0) // 24))
                           AS idx) u
        )
        SELECT ch.doc_id AS doc_id, CAST(MAX(ch.n) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(ch.full_len) - MAX(ch.n) AS BIGINT) AS overlap_tokens,
               -- HARDCODED 1 (q435 enforced-gate convention): the
               -- stride/window arithmetic GUARANTEES exact reassembly; a
               -- Spark-side boundary bug must fail the gate, not mirror it
               CAST(1 AS BIGINT) AS roundtrip_ok
        FROM ch GROUP BY ch.doc_id ORDER BY doc_id
      """.trim)),

    // Cohen's kappa — inter-annotator agreement for labeling pipelines
    // (the QA statistic every human-label or LLM-judge workflow reports
    // before trusting its labels): two deterministic binary annotators
    // over events (a value rule and a props rule), the full 2x2 confusion
    // as exact integers, and kappa = (po - pe) / (1 - pe) cleared of
    // denominators into pure integer cross-products — kappa_micro =
    // (n*(a+d) - E) * 1e6 div (n*n - E) with E = (a+b)(a+c) + (c+d)(b+d).
    // One conditional-aggregation pass.
    Q(
      "q478_cohens_kappa",
      (s, dir) => {
        // coalesce(_, 0): a missing/unparseable props.k (or a NULL value)
        // yields a NULL comparison — the DuckDB oracle's CASE falls to
        // ELSE 0, so the Spark side must count the row as rb=0 too, not
        // silently drop it from all four confusion cells (ADVICE r7).
        val base = Tables.events(s, dir).select(
          coalesce((col("value").cast("decimal(18,2)") >= 20).cast("long"),
            lit(0L)).as("ra"),
          coalesce((get_json_object(col("props"), "$.k").cast("int") >= 50)
            .cast("long"), lit(0L)).as("rb"))
        base.agg(
            sum(when(col("ra") === 1L && col("rb") === 1L, 1L).otherwise(0L)).as("a"),
            sum(when(col("ra") === 1L && col("rb") === 0L, 1L).otherwise(0L)).as("b"),
            sum(when(col("ra") === 0L && col("rb") === 1L, 1L).otherwise(0L)).as("c"),
            sum(when(col("ra") === 0L && col("rb") === 0L, 1L).otherwise(0L)).as("d"))
          .withColumn("n", col("a") + col("b") + col("c") + col("d"))
          .withColumn("e_num",
            (col("a") + col("b")) * (col("a") + col("c"))
              + (col("c") + col("d")) * (col("b") + col("d")))
          .select(col("a"), col("b"), col("c"), col("d"),
            expr("CAST(CASE WHEN n * n - e_num > 0 THEN " +
              "(n * (a + d) - e_num) * 1000000 DIV (n * n - e_num) " +
              "ELSE 0 END AS BIGINT)").as("kappa_micro"))
      },
      Some("""
        WITH base AS (
          SELECT CASE WHEN CAST(value AS DECIMAL(18,2)) >= 20
                 THEN 1 ELSE 0 END AS ra,
                 CASE WHEN CAST(props->>'k' AS INTEGER) >= 50
                 THEN 1 ELSE 0 END AS rb
          FROM events
        ), m AS (
          SELECT CAST(SUM(CASE WHEN ra = 1 AND rb = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS a,
                 CAST(SUM(CASE WHEN ra = 1 AND rb = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS b,
                 CAST(SUM(CASE WHEN ra = 0 AND rb = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS c,
                 CAST(SUM(CASE WHEN ra = 0 AND rb = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS d
          FROM base
        )
        SELECT a, b, c, d,
               CAST(CASE WHEN (a + b + c + d) * (a + b + c + d)
                      - ((a + b) * (a + c) + (c + d) * (b + d)) > 0
                    THEN ((a + b + c + d) * (a + d)
                        - ((a + b) * (a + c) + (c + d) * (b + d))) * 1000000
                      // ((a + b + c + d) * (a + b + c + d)
                        - ((a + b) * (a + c) + (c + d) * (b + d)))
                    ELSE 0 END AS BIGINT) AS kappa_micro
        FROM m
      """.trim)),

    // Thresholded classification report — precision / recall / F1 at
    // three fixed operating points over the same score/outcome pair as
    // q475/q476 (the deployment-decision table that follows the AUC):
    // per threshold, exact TP/FP/FN counts and the three ratios in
    // integer micro floor units; F1 from the cleared form 2*tp*1e6 div
    // (2*tp + fp + fn) — no intermediate floating precision/recall.
    // One pass per threshold over a 3-row literal grid (broadcast), one
    // hash aggregate.
    Q(
      "q479_classification_report",
      (s, dir) => {
        val base = Tables.events(s, dir).select(
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("score_c4"),
          (col("event_type") === "purchase").cast("long").as("pos"))
        val thresholds = s.createDataFrame(
          Seq(Tuple1(1000L), Tuple1(2000L), Tuple1(4000L))).toDF("thr_c4")
        base.crossJoin(broadcast(thresholds))
          .withColumn("pred", (col("score_c4") >= col("thr_c4")).cast("long"))
          .groupBy("thr_c4")
          .agg(
            sum(when(col("pred") === 1L && col("pos") === 1L, 1L)
              .otherwise(0L)).as("tp"),
            sum(when(col("pred") === 1L && col("pos") === 0L, 1L)
              .otherwise(0L)).as("fp"),
            sum(when(col("pred") === 0L && col("pos") === 1L, 1L)
              .otherwise(0L)).as("fn"))
          .select(col("thr_c4"), col("tp"), col("fp"), col("fn"),
            expr("CAST(CASE WHEN tp + fp > 0 THEN tp * 1000000 DIV (tp + fp) " +
              "ELSE 0 END AS BIGINT)").as("precision_micro"),
            expr("CAST(CASE WHEN tp + fn > 0 THEN tp * 1000000 DIV (tp + fn) " +
              "ELSE 0 END AS BIGINT)").as("recall_micro"),
            expr("CAST(CASE WHEN 2 * tp + fp + fn > 0 THEN " +
              "2 * tp * 1000000 DIV (2 * tp + fp + fn) ELSE 0 END AS BIGINT)")
              .as("f1_micro"))
          .orderBy("thr_c4")
      },
      Some("""
        WITH base AS (
          SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS score_c4,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
          FROM events
        ), g AS (
          SELECT t.thr_c4,
                 CAST(SUM(CASE WHEN score_c4 >= t.thr_c4 AND pos = 1
                   THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                 CAST(SUM(CASE WHEN score_c4 >= t.thr_c4 AND pos = 0
                   THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                 CAST(SUM(CASE WHEN score_c4 < t.thr_c4 AND pos = 1
                   THEN 1 ELSE 0 END) AS BIGINT) AS fn
          FROM base CROSS JOIN (SELECT CAST(unnest([1000, 2000, 4000])
                                AS BIGINT) AS thr_c4) t
          GROUP BY t.thr_c4
        )
        SELECT thr_c4, tp, fp, fn,
               CAST(CASE WHEN tp + fp > 0 THEN tp * 1000000 // (tp + fp)
                    ELSE 0 END AS BIGINT) AS precision_micro,
               CAST(CASE WHEN tp + fn > 0 THEN tp * 1000000 // (tp + fn)
                    ELSE 0 END AS BIGINT) AS recall_micro,
               CAST(CASE WHEN 2 * tp + fp + fn > 0
                    THEN 2 * tp * 1000000 // (2 * tp + fp + fn)
                    ELSE 0 END AS BIGINT) AS f1_micro
        FROM g ORDER BY thr_c4
      """.trim)),

    // Two-group log-rank test — the hypothesis test completing q420's
    // Kaplan-Meier estimate (do the two cohorts' survival curves differ?):
    // per distinct event day, exact at-risk and death counts for both
    // groups (a users x event-days join, CALENDAR-bounded at <= 31 days —
    // linear in users); the hypergeometric E and V terms are quantized to
    // integer micro PER EVENT TIME (the q194 order-free-sum trick; both
    // engines' integer division is truncation, documented at q478), and
    // the z statistic is one final fixed IEEE tree. Duration = observed
    // span in days, death = the user purchased, group = user parity.
    Q(
      "q480_logrank_test",
      (s, dir) => {
        val users = Tables.events(s, dir)
          .groupBy("user_id")
          .agg((datediff(max(col("ts").cast("date")),
            min(col("ts").cast("date"))) + 1).cast("long").as("dur"),
            max((col("event_type") === "purchase").cast("long")).as("death"))
          .withColumn("g1", (col("user_id") % 2 === 0).cast("long"))
        val times = users.filter(col("death") === 1L)
          .select(col("dur").as("t")).distinct()
        val atRisk = users.join(times.hint("shuffle_hash"),
            col("dur") >= col("t"))
          .groupBy("t")
          .agg(sum(col("g1")).as("n1"), count(lit(1)).as("n"),
            sum(when(col("dur") === col("t"), col("death") * col("g1"))
              .otherwise(0L)).as("d1"),
            sum(when(col("dur") === col("t"), col("death")).otherwise(0L))
              .as("d"))
        val sums = atRisk.filter(col("d") > 0L).agg(
          sum(col("d1")).as("o1"),
          sum(expr("d * n1 * 1000000 DIV n")).as("e1_micro"),
          sum(expr("CASE WHEN n > 1 THEN d * (n - d) * n1 * (n - n1) * 1000000 " +
            "DIV (n * n * (n - 1)) ELSE 0 END")).as("v_micro"))
        sums.select(col("o1"), col("e1_micro"), col("v_micro"),
          when(col("v_micro") > 0L,
            (col("o1") * 1000000L - col("e1_micro")).cast("double")
              / (lit(1000.0) * sqrt(col("v_micro").cast("double"))))
            .otherwise(lit(0.0)).as("z_score"))
      },
      Some("""
        WITH users AS (
          SELECT user_id,
                 CAST(date_diff('day', MIN(CAST(ts AS DATE)),
                   MAX(CAST(ts AS DATE))) + 1 AS BIGINT) AS dur,
                 CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS BIGINT) AS death,
                 CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS g1
          FROM events GROUP BY user_id
        ), times AS (
          SELECT DISTINCT dur AS t FROM users WHERE death = 1
        ), ar AS (
          SELECT times.t AS t, CAST(SUM(u.g1) AS BIGINT) AS n1,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN u.dur = times.t THEN u.death * u.g1
                   ELSE 0 END) AS BIGINT) AS d1,
                 CAST(SUM(CASE WHEN u.dur = times.t THEN u.death ELSE 0 END)
                   AS BIGINT) AS d
          FROM users u JOIN times ON u.dur >= times.t
          GROUP BY times.t
        ), sums AS (
          SELECT CAST(SUM(d1) AS BIGINT) AS o1,
                 CAST(SUM(d * n1 * 1000000 // n) AS BIGINT) AS e1_micro,
                 CAST(SUM(CASE WHEN n > 1
                   THEN d * (n - d) * n1 * (n - n1) * 1000000
                        // (n * n * (n - 1))
                   ELSE 0 END) AS BIGINT) AS v_micro
          FROM ar WHERE d > 0
        )
        SELECT o1, e1_micro, v_micro,
               CASE WHEN v_micro > 0
                    THEN CAST(o1 * 1000000 - e1_micro AS DOUBLE)
                         / (1000.0 * sqrt(CAST(v_micro AS DOUBLE)))
                    ELSE 0.0 END AS z_score
        FROM sums
      """.trim)),

    // Cumulative gains / lift chart — the campaign-targeting view of the
    // q475 score ("contact the top decile, capture X% of purchasers"):
    // score-DESCENDING deciles from the two-phase scalable rank + the
    // explicit ntile rule, cumulative positives via a 10-row self-join
    // (never a window), gain and lift in integer micro floor units from
    // exact counts. The decile assignment is the q461 equi-depth
    // discipline pointed at a model score.
    Q(
      "q481_gain_chart",
      (s, dir) => {
        val base = Tables.events(s, dir).select(
          col("event_id"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("score_c4"),
          (col("event_type") === "purchase").cast("long").as("pos"))
        val ranked = graft.engine.Keys.rankByScalable(
          base, Seq(col("score_c4").desc, col("event_id")), "r")
        val tot = ranked.agg(count(lit(1)).as("n_all"),
          sum(col("pos")).as("pos_all"))
        val dec = ranked.crossJoin(broadcast(tot))
          .withColumn("decile",
            graft.engine.Keys.ntileFromRank(col("r"), col("n_all"), 10))
          .groupBy("decile")
          .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"),
            max(col("n_all")).as("n_all"), max(col("pos_all")).as("pos_all"))
        dec.as("a")
          .join(dec.as("b"), col("b.decile") <= col("a.decile"))
          .groupBy(col("a.decile").as("decile"), col("a.n").as("n"),
            col("a.n_pos").as("n_pos"), col("a.n_all").as("n_all"),
            col("a.pos_all").as("pos_all"))
          .agg(sum(col("b.n")).as("cum_n"), sum(col("b.n_pos")).as("cum_pos"))
          .select(col("decile"), col("n"), col("n_pos"), col("cum_pos"),
            expr("CAST(CASE WHEN pos_all > 0 THEN cum_pos * 1000000 DIV pos_all " +
              "ELSE 0 END AS BIGINT)").as("gain_micro"),
            expr("CAST(CASE WHEN pos_all * cum_n > 0 THEN " +
              "cum_pos * n_all * 1000000 DIV (pos_all * cum_n) " +
              "ELSE 0 END AS BIGINT)").as("lift_micro"))
          .orderBy("decile")
      },
      Some("""
        WITH base AS (
          SELECT event_id,
                 CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS score_c4,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
          FROM events
        ), ranked AS (
          SELECT pos,
                 CAST(row_number() OVER (ORDER BY score_c4 DESC, event_id)
                   AS BIGINT) AS r,
                 CAST(COUNT(*) OVER () AS BIGINT) AS n_all
          FROM base
        ), dec AS (
          SELECT CAST(CASE WHEN r <= (n_all % 10) * (n_all // 10 + 1)
                   THEN (r - 1) // (n_all // 10 + 1)
                   ELSE (n_all % 10) + (r - (n_all % 10) * (n_all // 10 + 1) - 1)
                        // (n_all // 10)
                   END + 1 AS INTEGER) AS decile,
                 pos, n_all
          FROM ranked
        ), g AS (
          SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(pos) AS BIGINT) AS n_pos,
                 CAST(MAX(n_all) AS BIGINT) AS n_all
          FROM dec GROUP BY decile
        ), t AS (
          SELECT CAST(SUM(n_pos) AS BIGINT) AS pos_all FROM g
        ), c AS (
          SELECT a.decile AS decile, a.n AS n, a.n_pos AS n_pos,
                 a.n_all AS n_all,
                 CAST(SUM(b.n) AS BIGINT) AS cum_n,
                 CAST(SUM(b.n_pos) AS BIGINT) AS cum_pos
          FROM g a JOIN g b ON b.decile <= a.decile
          GROUP BY a.decile, a.n, a.n_pos, a.n_all
        )
        SELECT c.decile AS decile, c.n AS n, c.n_pos AS n_pos,
               c.cum_pos AS cum_pos,
               CAST(CASE WHEN t.pos_all > 0
                 THEN c.cum_pos * 1000000 // t.pos_all ELSE 0 END AS BIGINT)
                 AS gain_micro,
               CAST(CASE WHEN t.pos_all * c.cum_n > 0
                 THEN c.cum_pos * c.n_all * 1000000 // (t.pos_all * c.cum_n)
                 ELSE 0 END AS BIGINT) AS lift_micro
        FROM c, t ORDER BY decile
      """.trim)),

    // t-closeness audit — the third rung of the disclosure-risk ladder
    // (k-anonymity q239 -> l-diversity q440 -> t-closeness): per
    // (lang, len_band) equivalence class, the total-variation distance
    // between the class's sensitive-attribute (source) distribution and
    // the corpus-global one, kept EXACT by cross-multiplication:
    // TV = sum_s |cnt_cs*N - g_s*N_c| / (2*N_c*N), emitted in micro floor
    // units with the t=0.3 release flag. The class x source grid is
    // (classes x bounded source domain) — the same constant-domain
    // broadcast exemption as event types.
    Q(
      "q482_t_closeness",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("lang"), expr("n_chars DIV 200").as("len_band"),
            col("source"))
        val cellCnt = docs.groupBy("lang", "len_band", "source")
          .agg(count(lit(1)).as("cnt"))
        val classTot = docs.groupBy("lang", "len_band")
          .agg(count(lit(1)).as("n_c"))
        val globTot = docs.groupBy("source").agg(count(lit(1)).as("g_s"))
        val n = docs.agg(count(lit(1)).as("n_all"))
        classTot.crossJoin(broadcast(globTot)).crossJoin(broadcast(n))
          .join(cellCnt.hint("shuffle_hash"),
            Seq("lang", "len_band", "source"), "left")
          .withColumn("term",
            abs(coalesce(col("cnt"), lit(0L)) * col("n_all")
              - col("g_s") * col("n_c")))
          .groupBy("lang", "len_band", "n_c", "n_all")
          .agg(sum(col("term")).as("tv_num"))
          .select(col("lang"), col("len_band"), col("n_c").as("n_class"),
            expr("CAST(tv_num * 1000000 DIV (2 * n_c * n_all) AS BIGINT)")
              .as("tv_micro"))
          .withColumn("t_ok", (col("tv_micro") <= 300000L).cast("long"))
          .orderBy("lang", "len_band")
      },
      Some("""
        WITH docs AS (
          SELECT lang, n_chars // 200 AS len_band, source FROM documents
        ), cell AS (
          SELECT lang, len_band, source, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM docs GROUP BY 1, 2, 3
        ), cls AS (
          SELECT lang, len_band, CAST(COUNT(*) AS BIGINT) AS n_c
          FROM docs GROUP BY 1, 2
        ), gt AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS g_s FROM docs GROUP BY 1
        ), n AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM docs
        ), terms AS (
          SELECT cls.lang AS lang, cls.len_band AS len_band, cls.n_c AS n_c,
                 n.n_all AS n_all,
                 abs(COALESCE(cell.cnt, 0) * n.n_all - gt.g_s * cls.n_c)
                   AS term
          FROM cls CROSS JOIN gt CROSS JOIN n
          LEFT JOIN cell ON cell.lang = cls.lang
            AND cell.len_band = cls.len_band AND cell.source = gt.source
        ), tv AS (
          SELECT lang, len_band, n_c, n_all,
                 CAST(SUM(term) AS BIGINT) AS tv_num
          FROM terms GROUP BY 1, 2, 3, 4
        )
        SELECT lang, len_band, n_c AS n_class,
               CAST(tv_num * 1000000 // (2 * n_c * n_all) AS BIGINT)
                 AS tv_micro,
               CAST(CASE WHEN tv_num * 1000000 // (2 * n_c * n_all) <= 300000
                 THEN 1 ELSE 0 END AS BIGINT) AS t_ok
        FROM tv ORDER BY lang, len_band
      """.trim)),

    // Partition modularity of the near-dup clustering — the quality score
    // for the connected-components partition (q61/q233): with every edge
    // intra-community by construction, Q = 1 - sum_c (d_c / 2m)^2 — low Q
    // flags a giant component swallowing the graph (the classic over-merge
    // failure of transitive-closure dedup). Per-community degree masses
    // are exact integers; each (d_c^2 * 1e6) div (4m^2) term is micro-
    // quantized before the order-free sum (q194; safe under ~1.5e6 edges
    // per partition — beyond that the term needs DECIMAL, noted). Reuses
    // the materialized pair frame and pointer-halving CC.
    Q(
      "q483_modularity",
      (s, dir) => {
        val pairs = SharedFrames.verifiedDocPairs(s, dir)
        val cc = graft.ext.NearDup.connectedComponents(pairs, "id_a", "id_b")
        val deg = pairs.select(col("id_a").as("id"))
          .unionAll(pairs.select(col("id_b").as("id")))
          .groupBy("id").agg(count(lit(1)).as("deg"))
        val m = pairs.agg(count(lit(1)).as("m"))
        val dc = deg.join(cc.hint("shuffle_hash"), Seq("id"))
          .groupBy("cluster_id").agg(sum(col("deg")).as("d_c"))
        dc.crossJoin(broadcast(m))
          .select(col("cluster_id"),
            expr("CAST(d_c * d_c * 1000000 DIV (4 * m * m) AS BIGINT)")
              .as("pen_micro"))
          .agg(count(lit(1)).as("n_communities"),
            sum(col("pen_micro")).as("pen_sum"))
          .crossJoin(broadcast(m))
          .select(col("m").as("n_edges"), col("n_communities"),
            (lit(1000000L) - col("pen_sum")).as("q_micro"))
      },
      Some(s"""
        ${("WITH RECURSIVE " + ExtQueries.MinhashPairsCte.stripPrefix("WITH ")).trim}, edges AS (
          SELECT id_a AS src, id_b AS dst FROM verified
          UNION
          SELECT id_b AS src, id_a AS dst FROM verified
        ), nodes AS (
          SELECT DISTINCT src AS v FROM edges
        ), reach(v, label) AS (
          SELECT v, v FROM nodes
          UNION
          SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.v
        ), lab AS (
          SELECT v, MIN(label) AS cluster_id FROM reach GROUP BY v
        ), m AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS m FROM verified
        ), deg AS (
          SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS deg
          FROM edges GROUP BY src
        ), dc AS (
          SELECT lab.cluster_id, CAST(SUM(deg.deg) AS BIGINT) AS d_c
          FROM deg JOIN lab ON lab.v = deg.v GROUP BY lab.cluster_id
        ), pen AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
                 CAST(SUM(d_c * d_c * 1000000 // (4 * m.m * m.m)) AS BIGINT)
                   AS pen_sum
          FROM dc, m
        )
        SELECT m.m AS n_edges, pen.n_communities AS n_communities,
               CAST(1000000 - pen.pen_sum AS BIGINT) AS q_micro
        FROM pen, m
      """.trim)),

    // UNPIVOT / melt — the wide-to-long relational operator (the inverse
    // of q155's fixed-width pivot): a per-status metrics row (count, sum,
    // min, max in exact cents) melts into (status, metric, value) rows
    // through Spark's DataFrame.unpivot — same semantics as SQL UNPIVOT
    // and DuckDB's UNPIVOT ... INTO NAME/VALUE. All melted values share
    // BIGINT so no implicit casts ride the melt; metric names become data
    // and are part of the hash gate.
    Q(
      "q484_unpivot_melt",
      (s, dir) => {
        val wide = Tables.orders(s, dir)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_orders"),
            sum((col("o_totalprice").cast("decimal(18,2)") * 100)
              .cast("long")).as("sum_cents"),
            min((col("o_totalprice").cast("decimal(18,2)") * 100)
              .cast("long")).as("min_cents"),
            max((col("o_totalprice").cast("decimal(18,2)") * 100)
              .cast("long")).as("max_cents"))
        wide.unpivot(
            Array(col("o_orderstatus")),
            Array(col("n_orders"), col("sum_cents"), col("min_cents"),
              col("max_cents")),
            "metric", "value")
          .orderBy("o_orderstatus", "metric")
      },
      Some("""
        WITH wide AS (
          SELECT o_orderstatus,
                 CAST(COUNT(*) AS BIGINT) AS n_orders,
                 CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                   AS BIGINT)) AS BIGINT) AS sum_cents,
                 CAST(MIN(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                   AS BIGINT)) AS BIGINT) AS min_cents,
                 CAST(MAX(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                   AS BIGINT)) AS BIGINT) AS max_cents
          FROM orders GROUP BY o_orderstatus
        )
        SELECT o_orderstatus, metric, value
        FROM wide
        UNPIVOT (value FOR metric IN (n_orders, sum_cents, min_cents,
          max_cents))
        ORDER BY o_orderstatus, metric
      """.trim)),

    // try_* error-tolerant arithmetic — the ANSI-mode escape hatches
    // (try_divide / try_add / try_multiply return NULL where strict ANSI
    // raises): division by zero, BIGINT overflow on add and multiply,
    // each exercised per event type with the NULL outcomes COUNTED (the
    // q386 try_cast convention extended to arithmetic). The oracle
    // restates each guard as an explicit CASE — DuckDB has no try_
    // arithmetic, which is exactly why the semantics deserve a
    // cross-engine value gate.
    Q(
      "q485_try_arithmetic",
      (s, dir) => {
        Tables.events(s, dir).createOrReplaceTempView("q485_events")
        s.sql("""
          SELECT event_type,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN try_divide(value, value - value) IS NULL
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_div0_null,
                 CAST(SUM(CASE WHEN try_add(9223372036854775807,
                     CAST(event_id % 2 AS BIGINT)) IS NULL
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_add_overflow,
                 CAST(SUM(CASE WHEN try_multiply(4611686018427387904,
                     CAST(event_id % 4 AS BIGINT)) IS NULL
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_mul_overflow,
                 CAST(floor(try_divide(
                   SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)),
                   COUNT(*)) * 10000) AS BIGINT) AS mean_micro
          FROM q485_events
          GROUP BY event_type ORDER BY event_type
        """)
      },
      Some("""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN value - value = 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_div0_null,
               CAST(SUM(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_add_overflow,
               CAST(SUM(CASE WHEN event_id % 4 >= 2 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_mul_overflow,
               CAST(floor(CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                   AS BIGINT)) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) * 10000) AS BIGINT) AS mean_micro
        FROM events
        GROUP BY event_type ORDER BY event_type
      """.trim)),

    // Native percentile_disc — the ANSI inverse-distribution aggregate
    // (WITHIN GROUP ordered-set syntax): the discrete percentile returns
    // an ACTUAL data element (the first value whose cumulative
    // distribution reaches p), so both engines' built-ins must agree
    // bit-for-bit with each other AND with q336's hand-rolled rank
    // selection — three independent implementations of one ANSI
    // definition under a single hash gate.
    Q(
      "q486_percentile_disc",
      (s, dir) => {
        Tables.events(s, dir).createOrReplaceTempView("q486_events")
        s.sql("""
          SELECT event_type,
                 percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS p50,
                 percentile_disc(0.9) WITHIN GROUP (ORDER BY value) AS p90,
                 percentile_disc(0.99) WITHIN GROUP (ORDER BY value) AS p99
          FROM q486_events
          GROUP BY event_type ORDER BY event_type
        """)
      },
      Some("""
        SELECT event_type,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS p50,
               percentile_disc(0.9) WITHIN GROUP (ORDER BY value) AS p90,
               percentile_disc(0.99) WITHIN GROUP (ORDER BY value) AS p99
        FROM events
        GROUP BY event_type ORDER BY event_type
      """.trim)),

    // RAKE keyword extraction — the classic unsupervised keyphrase
    // operator (Rose et al.): candidate phrases are maximal stopword-free
    // token runs (run id = position minus the doc-partitioned non-stop
    // rank — the q459 run trick), each word scores deg/freq over ALL
    // phrase occurrences (deg = sum of containing-phrase lengths), a
    // phrase scores the sum of its members' scores, and the corpus-level
    // top-20 keyphrases are ranked under a total order. All integer
    // micro arithmetic (deg*1e6 div freq summed per phrase); the word
    // frame is vocabulary-sized, the joins key-equi. The stopword list is
    // the fixed 11-word ExtQueries.StopList.
    Q(
      "q487_rake_keywords",
      (s, dir) => {
        val stops = Seq("the", "a", "an", "of", "and", "to", "in", "is",
          "for", "on", "with")
        val pos = Tables.documents(s, dir)
          .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("w"))
          .select(col("doc_id"),
            explode(sequence(lit(1), size(col("w")))).as("p"), col("w"))
          .select(col("doc_id"), col("p"),
            element_at(col("w"), col("p")).as("tok"))
          .filter(!col("tok").isin(stops: _*))
        val wDoc = Window.partitionBy("doc_id").orderBy("p")
        val members = pos
          .withColumn("grp", col("p") - row_number().over(wDoc))
        val phraseLen = members.groupBy("doc_id", "grp")
          .agg(count(lit(1)).as("plen"))
        val withLen = members.join(phraseLen.hint("shuffle_hash"),
          Seq("doc_id", "grp"))
        val wordStats = withLen.groupBy("tok")
          .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
        val scored = withLen.join(wordStats.hint("shuffle_hash"), Seq("tok"))
          .withColumn("wscore", expr("deg * 1000000 DIV freq"))
        val phrases = scored.groupBy("doc_id", "grp")
          .agg(sum(col("wscore")).as("score_micro"),
            array_join(transform(
              sort_array(collect_list(struct(col("p"), col("tok")))),
              r => r.getField("tok")), " ").as("phrase"))
        phrases.groupBy("phrase")
          .agg(count(lit(1)).as("n_occurrences"),
            max(col("score_micro")).as("score_micro"))
          .orderBy(col("score_micro").desc, col("phrase"))
          .limit(20)
      },
      Some(s"""
        WITH pos AS (
          SELECT doc_id, u.p AS p, u.tok AS tok
          FROM (SELECT doc_id, $Toks AS w FROM documents),
               LATERAL (SELECT unnest(w) AS tok,
                        generate_subscripts(w, 1) AS p) u
        ), ns AS (
          SELECT doc_id, p, tok,
                 p - row_number() OVER (PARTITION BY doc_id ORDER BY p)
                   AS grp
          FROM pos
          WHERE tok NOT IN (${ExtQueries.StopList})
        ), pl AS (
          SELECT doc_id, grp, CAST(COUNT(*) AS BIGINT) AS plen
          FROM ns GROUP BY 1, 2
        ), wl AS (
          SELECT ns.doc_id AS doc_id, ns.grp AS grp, ns.p AS p,
                 ns.tok AS tok, pl.plen AS plen
          FROM ns JOIN pl ON pl.doc_id = ns.doc_id AND pl.grp = ns.grp
        ), ws AS (
          SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq,
                 CAST(SUM(plen) AS BIGINT) AS deg
          FROM wl GROUP BY tok
        ), sc AS (
          SELECT wl.doc_id AS doc_id, wl.grp AS grp, wl.p AS p,
                 wl.tok AS tok, ws.deg * 1000000 // ws.freq AS wscore
          FROM wl JOIN ws ON ws.tok = wl.tok
        ), ph AS (
          SELECT doc_id, grp, CAST(SUM(wscore) AS BIGINT) AS score_micro,
                 string_agg(tok, ' ' ORDER BY p) AS phrase
          FROM sc GROUP BY 1, 2
        )
        SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
               CAST(MAX(score_micro) AS BIGINT) AS score_micro
        FROM ph GROUP BY phrase
        ORDER BY score_micro DESC, phrase LIMIT 20
      """.trim)),

    // Jensen-Shannon divergence — the SYMMETRIC, always-finite drift
    // metric completing the KL/PSI family (KL blows up on zero cells; JSD
    // is bounded by ln 2): per source, JSD between its language
    // distribution and the corpus-global one. Each term
    // 0.5*(p*ln(p/m) + q*ln(q/m)) is computed from EXACT integer-derived
    // ratios and quantized to micro-nats PER (source, lang) CELL before
    // the order-free sum (the q194 discipline); zero cells contribute the
    // exact limit 0 for p=0 and the finite q-side term otherwise.
    Q(
      "q488_jsd_drift",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select(col("source"), col("lang"))
        val cell = docs.groupBy("source", "lang").agg(count(lit(1)).as("cnt"))
        val srcTot = docs.groupBy("source").agg(count(lit(1)).as("n_s"))
        val langTot = docs.groupBy("lang").agg(count(lit(1)).as("g_l"))
        val n = docs.agg(count(lit(1)).as("n_all"))
        val grid = srcTot.crossJoin(broadcast(langTot)).crossJoin(broadcast(n))
          .join(cell.hint("shuffle_hash"), Seq("source", "lang"), "left")
          .withColumn("p_num", coalesce(col("cnt"), lit(0L)))
        // p = p_num/n_s, q = g_l/n_all, m = (p+q)/2; term ratios as one
        // shared double tree from exact integers
        val p = col("p_num").cast("double") / col("n_s").cast("double")
        val q = col("g_l").cast("double") / col("n_all").cast("double")
        val m = (p + q) / lit(2.0)
        val term =
          when(col("p_num") > 0L, p * log(p / m)).otherwise(lit(0.0)) + q * log(q / m)
        grid
          .withColumn("term_micro",
            round(term * lit(500000.0)).cast("long"))
          .groupBy("source")
          .agg(sum(col("term_micro")).as("jsd_micro"),
            count(lit(1)).as("n_langs"))
          .orderBy("source")
      },
      Some("""
        WITH docs AS (
          SELECT source, lang FROM documents
        ), cell AS (
          SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM docs GROUP BY 1, 2
        ), st AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s FROM docs GROUP BY 1
        ), lt AS (
          SELECT lang, CAST(COUNT(*) AS BIGINT) AS g_l FROM docs GROUP BY 1
        ), n AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM docs
        ), grid AS (
          SELECT st.source AS source, lt.lang AS lang, st.n_s AS n_s,
                 lt.g_l AS g_l, n.n_all AS n_all,
                 COALESCE(cell.cnt, 0) AS p_num
          FROM st CROSS JOIN lt CROSS JOIN n
          LEFT JOIN cell ON cell.source = st.source AND cell.lang = lt.lang
        ), terms AS (
          SELECT source,
                 CAST(round((CASE WHEN p_num > 0
                     THEN (CAST(p_num AS DOUBLE) / CAST(n_s AS DOUBLE))
                          * ln((CAST(p_num AS DOUBLE) / CAST(n_s AS DOUBLE))
                            / (((CAST(p_num AS DOUBLE) / CAST(n_s AS DOUBLE))
                              + (CAST(g_l AS DOUBLE) / CAST(n_all AS DOUBLE)))
                              / 2.0))
                     ELSE 0.0 END
                   + (CAST(g_l AS DOUBLE) / CAST(n_all AS DOUBLE))
                     * ln((CAST(g_l AS DOUBLE) / CAST(n_all AS DOUBLE))
                       / (((CAST(p_num AS DOUBLE) / CAST(n_s AS DOUBLE))
                         + (CAST(g_l AS DOUBLE) / CAST(n_all AS DOUBLE)))
                         / 2.0))) * 500000.0) AS BIGINT) AS term_micro
          FROM grid
        )
        SELECT source, CAST(SUM(term_micro) AS BIGINT) AS jsd_micro,
               CAST(COUNT(*) AS BIGINT) AS n_langs
        FROM terms GROUP BY source ORDER BY source
      """.trim)),

    // Herfindahl-Hirschman concentration index — the market-concentration
    // scalar beside Gini (q222): HHI = sum of squared shares, exactly
    // (sum cnt^2) * 1e6 div N^2 — ONE integer formula, no per-term
    // rounding at all. Reported per dimension (source shares of documents,
    // event-type shares of events) so corpus-mix collapse (one source
    // swallowing the training mix) trips a single gated number.
    Q(
      "q489_hhi_concentration",
      (s, dir) => {
        def hhi(df: DataFrame, dim: String, label: String): DataFrame = df
          .groupBy(col(dim)).agg(count(lit(1)).as("cnt"))
          .agg(sum(col("cnt") * col("cnt")).as("ss"),
            sum(col("cnt")).as("n"), count(lit(1)).as("n_groups"))
          .select(lit(label).as("dimension"), col("n_groups"),
            expr("CAST(ss * 1000000 DIV (n * n) AS BIGINT)").as("hhi_micro"))
        hhi(Tables.documents(s, dir), "source", "doc_source")
          .unionAll(hhi(Tables.documents(s, dir), "lang", "doc_lang"))
          .unionAll(hhi(Tables.events(s, dir), "event_type", "event_type"))
          .orderBy("dimension")
      },
      Some("""
        WITH a AS (
          SELECT 'doc_source' AS dimension, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM documents GROUP BY source
        ), b AS (
          SELECT 'doc_lang', CAST(COUNT(*) AS BIGINT) FROM documents
          GROUP BY lang
        ), c AS (
          SELECT 'event_type', CAST(COUNT(*) AS BIGINT) FROM events
          GROUP BY event_type
        ), u AS (
          SELECT * FROM a UNION ALL SELECT * FROM b UNION ALL
          SELECT * FROM c
        )
        SELECT dimension, CAST(COUNT(*) AS BIGINT) AS n_groups,
               CAST(SUM(cnt * cnt) * 1000000
                 // (SUM(cnt) * SUM(cnt)) AS BIGINT) AS hhi_micro
        FROM u GROUP BY dimension ORDER BY dimension
      """.trim)),

    // Kendall tau-b — the OTHER rank correlation beside Spearman (q104),
    // with full tie correction: over each event type's daily series,
    // concordant/discordant day pairs between event volume and distinct
    // active users, tie counts for both margins, and tau-b =
    // (C - D) / sqrt((n0 - n1)(n0 - n2)) as one fixed IEEE tree over
    // exact integers. The day-pair join is calendar-bounded (the q455
    // discipline); the daily rollup upstream is the corpus-linear part.
    Q(
      "q490_kendall_tau",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"), col("ts").cast("date").as("d"))
          .agg(count(lit(1)).as("x"), countDistinct(col("user_id")).as("y"))
        val pairs = daily.as("a")
          .join(daily.as("b").hint("shuffle_hash"),
            col("a.event_type") === col("b.event_type")
              && col("a.d") < col("b.d"))
          .select(col("a.event_type").as("event_type"),
            (col("b.x") - col("a.x")).as("dx"),
            (col("b.y") - col("a.y")).as("dy"))
        val sums = pairs.groupBy("event_type").agg(
          count(lit(1)).as("n0"),
          sum(when(col("dx") * col("dy") > 0L, 1L).otherwise(0L)).as("c"),
          sum(when(col("dx") * col("dy") < 0L, 1L).otherwise(0L)).as("d"),
          sum(when(col("dx") === 0L, 1L).otherwise(0L)).as("tx"),
          sum(when(col("dy") === 0L, 1L).otherwise(0L)).as("ty"))
        sums.select(col("event_type"), col("n0"), col("c"), col("d"),
            when((col("n0") - col("tx")) * (col("n0") - col("ty")) > 0L,
              (col("c") - col("d")).cast("double")
                / sqrt(((col("n0") - col("tx"))
                  * (col("n0") - col("ty"))).cast("double")))
              .otherwise(lit(0.0)).as("tau_b"))
          .orderBy("event_type")
      },
      Some("""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS dd,
                 CAST(COUNT(*) AS BIGINT) AS x,
                 CAST(COUNT(DISTINCT user_id) AS BIGINT) AS y
          FROM events GROUP BY 1, 2
        ), pairs AS (
          SELECT a.event_type AS event_type, b.x - a.x AS dx, b.y - a.y AS dy
          FROM daily a JOIN daily b
            ON b.event_type = a.event_type AND a.dd < b.dd
        ), sums AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n0,
                 CAST(SUM(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c,
                 CAST(SUM(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS d,
                 CAST(SUM(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS tx,
                 CAST(SUM(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS ty
          FROM pairs GROUP BY event_type
        )
        SELECT event_type, n0, c, d,
               CASE WHEN (n0 - tx) * (n0 - ty) > 0
                    THEN CAST(c - d AS DOUBLE)
                         / sqrt(CAST((n0 - tx) * (n0 - ty) AS DOUBLE))
                    ELSE 0.0 END AS tau_b
        FROM sums ORDER BY event_type
      """.trim)),

    // Lag-k autocorrelation — the ACF(1..3) of each event type's daily
    // volume (the dependence structure every forecasting and anomaly
    // layer assumes away until it bites): the lag join is an equi-join on
    // (type, day + k), the five sums over the OVERLAP window are exact
    // integers, and each r_k is Pearson's cleared form in one fixed IEEE
    // tree — n*Sxy - Sx*Sy over the two cleared standard deviations.
    Q(
      "q491_acf",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"), col("ts").cast("date").as("d"))
          .agg(count(lit(1)).as("x"))
        val lags = s.createDataFrame(Seq(Tuple1(1), Tuple1(2), Tuple1(3)))
          .toDF("k")
        val joined = daily.crossJoin(broadcast(lags))
          .withColumn("d2", date_add(col("d"), col("k")))
          .as("a")
          .join(daily.select(col("event_type"), col("d").as("d2"),
            col("x").as("x2")).hint("shuffle_hash"), Seq("event_type", "d2"))
        val sums = joined.groupBy("event_type", "k").agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("x2")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x2") * col("x2")).as("syy"),
          sum(col("x") * col("x2")).as("sxy"))
        sums.select(col("event_type"), col("k"), col("n"),
            when((col("n") * col("sxx") - col("sx") * col("sx")) > 0L
                && (col("n") * col("syy") - col("sy") * col("sy")) > 0L,
              (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
                / (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
                    .cast("double"))
                  * sqrt((col("n") * col("syy") - col("sy") * col("sy"))
                    .cast("double"))))
              .otherwise(lit(0.0)).as("acf"))
          .orderBy("event_type", "k")
      },
      Some("""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS dd,
                 CAST(COUNT(*) AS BIGINT) AS x
          FROM events GROUP BY 1, 2
        ), joined AS (
          SELECT a.event_type AS event_type, l.k AS k, a.x AS x, b.x AS x2
          FROM daily a
          CROSS JOIN (SELECT unnest([1, 2, 3]) AS k) l
          JOIN daily b ON b.event_type = a.event_type
            AND b.dd = a.dd + CAST(l.k AS INTEGER)
        ), sums AS (
          SELECT event_type, k, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(x2) AS BIGINT) AS sy,
                 CAST(SUM(x * x) AS BIGINT) AS sxx,
                 CAST(SUM(x2 * x2) AS BIGINT) AS syy,
                 CAST(SUM(x * x2) AS BIGINT) AS sxy
          FROM joined GROUP BY 1, 2
        )
        SELECT event_type, CAST(k AS INTEGER) AS k, n,
               CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                    THEN CAST(n * sxy - sx * sy AS DOUBLE)
                         / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                            * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
                    ELSE 0.0 END AS acf
        FROM sums ORDER BY event_type, k
      """.trim)),

    // Day-of-week seasonality strength — how much of each event type's
    // daily variance the weekly cycle explains: 1 - SS_within / SS_total
    // with the rational group terms (S_d^2 / c_d and S^2 / n)
    // micro-quantized via integer floor division BEFORE the subtraction
    // (both engines truncate identically, q478 note) — the decomposition
    // stays order-free and engine-exact, with one final double ratio.
    Q(
      "q492_dow_seasonality",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"), col("ts").cast("date").as("d"))
          .agg(count(lit(1)).as("x"))
          .withColumn("dow", dayofweek(col("d")).cast("long"))
        val byDow = daily.groupBy("event_type", "dow")
          .agg(sum(col("x")).as("s_d"), count(lit(1)).as("c_d"))
          .withColumn("dow_term_micro", expr("s_d * s_d * 1000000 DIV c_d"))
          .groupBy("event_type")
          .agg(sum(col("dow_term_micro")).as("within_num"),
            count(lit(1)).as("n_dows"))
        val tot = daily.groupBy("event_type")
          .agg(sum(col("x")).as("s"), count(lit(1)).as("n"),
            sum(col("x") * col("x")).as("sxx"))
          .withColumn("tot_term_micro", expr("s * s * 1000000 DIV n"))
        tot.join(byDow.hint("shuffle_hash"), Seq("event_type"))
          .select(col("event_type"), col("n"), col("n_dows"),
            (col("sxx") * 1000000L - col("within_num")).as("ss_within_micro"),
            (col("sxx") * 1000000L - col("tot_term_micro")).as("ss_total_micro"))
          .withColumn("strength",
            when(col("ss_total_micro") > 0L,
              greatest(lit(0.0), lit(1.0)
                - col("ss_within_micro").cast("double")
                / col("ss_total_micro").cast("double")))
              .otherwise(lit(0.0)))
          .orderBy("event_type")
      },
      Some("""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS dd,
                 CAST(COUNT(*) AS BIGINT) AS x
          FROM events GROUP BY 1, 2
        ), dw AS (
          SELECT event_type, dd, x,
                 CAST(dayofweek(dd) + 1 AS BIGINT) AS dow
          FROM daily
        ), bydow AS (
          SELECT event_type,
                 CAST(SUM(term) AS BIGINT) AS within_num,
                 CAST(COUNT(*) AS BIGINT) AS n_dows
          FROM (
            SELECT event_type, dow,
                   SUM(x) * SUM(x) * 1000000 // COUNT(*) AS term
            FROM dw GROUP BY event_type, dow)
          GROUP BY event_type
        ), tot AS (
          SELECT event_type, CAST(SUM(x) AS BIGINT) AS s,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x * x) AS BIGINT) AS sxx
          FROM dw GROUP BY event_type
        )
        SELECT tot.event_type AS event_type, tot.n AS n,
               bydow.n_dows AS n_dows,
               CAST(tot.sxx * 1000000 - bydow.within_num AS BIGINT)
                 AS ss_within_micro,
               CAST(tot.sxx * 1000000 - tot.s * tot.s * 1000000 // tot.n
                 AS BIGINT) AS ss_total_micro,
               CASE WHEN tot.sxx * 1000000 - tot.s * tot.s * 1000000 // tot.n > 0
                    THEN GREATEST(0.0, 1.0
                      - CAST(tot.sxx * 1000000 - bydow.within_num AS DOUBLE)
                        / CAST(tot.sxx * 1000000
                          - tot.s * tot.s * 1000000 // tot.n AS DOUBLE))
                    ELSE 0.0 END AS strength
        FROM tot JOIN bydow ON bydow.event_type = tot.event_type
        ORDER BY event_type
      """.trim)),

    // Cross-type lead-lag correlation — does one event stream LEAD
    // another (clicks today -> purchases tomorrow)? For every ordered
    // type pair and lag 0..2, the Pearson correlation of the two daily
    // series with the second shifted — the q491 ACF machinery pointed
    // across series. Pairs x lags is a bounded grid (k types -> k^2*3
    // cells); the lag join stays equi on (day + lag); five exact integer
    // sums per cell, one fixed tree.
    Q(
      "q493_cross_correlation",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"), col("ts").cast("date").as("d"))
          .agg(count(lit(1)).as("x"))
        val lags = s.createDataFrame(Seq(Tuple1(0), Tuple1(1), Tuple1(2)))
          .toDF("lag")
        val joined = daily.crossJoin(broadcast(lags))
          .withColumn("d2", date_add(col("d"), col("lag")))
          .select(col("event_type").as("lead_type"), col("lag"),
            col("d2"), col("x"))
          .join(daily.select(col("event_type").as("follow_type"),
            col("d").as("d2"), col("x").as("x2")).hint("shuffle_hash"),
            Seq("d2"))
          .filter(col("lead_type") =!= col("follow_type"))
        val sums = joined.groupBy("lead_type", "follow_type", "lag").agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("x2")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x2") * col("x2")).as("syy"),
          sum(col("x") * col("x2")).as("sxy"))
        sums.select(col("lead_type"), col("follow_type"), col("lag"), col("n"),
            when((col("n") * col("sxx") - col("sx") * col("sx")) > 0L
                && (col("n") * col("syy") - col("sy") * col("sy")) > 0L,
              (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
                / (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
                    .cast("double"))
                  * sqrt((col("n") * col("syy") - col("sy") * col("sy"))
                    .cast("double"))))
              .otherwise(lit(0.0)).as("xcorr"))
          .orderBy("lead_type", "follow_type", "lag")
      },
      Some("""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS dd,
                 CAST(COUNT(*) AS BIGINT) AS x
          FROM events GROUP BY 1, 2
        ), joined AS (
          SELECT a.event_type AS lead_type, b.event_type AS follow_type,
                 l.lag AS lag, a.x AS x, b.x AS x2
          FROM daily a
          CROSS JOIN (SELECT unnest([0, 1, 2]) AS lag) l
          JOIN daily b ON b.dd = a.dd + CAST(l.lag AS INTEGER)
          WHERE a.event_type <> b.event_type
        ), sums AS (
          SELECT lead_type, follow_type, lag, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(x2) AS BIGINT) AS sy,
                 CAST(SUM(x * x) AS BIGINT) AS sxx,
                 CAST(SUM(x2 * x2) AS BIGINT) AS syy,
                 CAST(SUM(x * x2) AS BIGINT) AS sxy
          FROM joined GROUP BY 1, 2, 3
        )
        SELECT lead_type, follow_type, CAST(lag AS INTEGER) AS lag, n,
               CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                    THEN CAST(n * sxy - sx * sy AS DOUBLE)
                         / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                            * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
                    ELSE 0.0 END AS xcorr
        FROM sums ORDER BY lead_type, follow_type, lag
      """.trim)),

    // SES forecast backtest — simple exponential smoothing (alpha = 1/2)
    // one-step-ahead over each type's daily series, EXACT end-to-end:
    // with binary alpha the smoothed level is a rational with a
    // power-of-two denominator, s_t = B_t / 2^(t-1) where
    // B_t = x_1 + sum_{i=2..t} x_i*2^(i-1) is a pure integer running sum
    // (the repo's EWMA powers-of-two discipline — no quantization needed
    // until the final MAE division). Per-day absolute errors
    // |x_{t+1}*2^(t-1) - B_t| * 1e6 div 2^(t-1) stay integers; windows
    // are type-partitioned; the month-long series caps 2^(t-1) at 2^30.
    Q(
      "q494_ses_forecast_eval",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"), col("ts").cast("date").as("d"))
          .agg(count(lit(1)).as("x"))
        val wT = Window.partitionBy("event_type").orderBy("d")
        val idx = daily.withColumn("i", row_number().over(wT).cast("long"))
          .withColumn("w", when(col("i") === 1L, 1L)
            .otherwise(expr("CAST(pow(2.0, CAST(i AS INT) - 2) AS BIGINT)")))
        val cum = idx.withColumn("b",
          sum(col("x") * col("w")).over(
            Window.partitionBy("event_type").orderBy("i")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val errs = cum
          .withColumn("b_prev", lag(col("b"), 1).over(wT))
          .withColumn("i_prev", col("i") - 1L)
          .filter(col("b_prev").isNotNull)
          .withColumn("den", expr("CAST(pow(2.0, CAST(i_prev AS INT) - 1) AS BIGINT)"))
          .withColumn("err_micro",
            expr("abs(x * den - b_prev) * 1000000 DIV den"))
        errs.groupBy("event_type")
          .agg(count(lit(1)).as("n_forecasts"),
            sum(col("err_micro")).as("sum_err_micro"))
          .withColumn("mae_micro",
            expr("CAST(sum_err_micro DIV n_forecasts AS BIGINT)"))
          .orderBy("event_type")
      },
      Some("""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS dd,
                 CAST(COUNT(*) AS BIGINT) AS x
          FROM events GROUP BY 1, 2
        ), idx AS (
          SELECT event_type, dd, x,
                 CAST(row_number() OVER (PARTITION BY event_type ORDER BY dd)
                   AS BIGINT) AS i
          FROM daily
        ), wts AS (
          SELECT event_type, dd, x, i,
                 CASE WHEN i = 1 THEN 1
                      ELSE CAST(pow(2.0, CAST(i AS INTEGER) - 2) AS BIGINT)
                 END AS w
          FROM idx
        ), cum AS (
          SELECT event_type, dd, x, i,
                 SUM(x * w) OVER (PARTITION BY event_type ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS b
          FROM wts
        ), errs AS (
          SELECT event_type, x, i,
                 lag(b) OVER (PARTITION BY event_type ORDER BY i) AS b_prev,
                 CAST(pow(2.0, CAST(i AS INTEGER) - 2) AS BIGINT) AS den
          FROM cum
        )
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_forecasts,
               CAST(SUM(abs(x * den - b_prev) * 1000000 // den) AS BIGINT)
                 AS sum_err_micro,
               CAST(SUM(abs(x * den - b_prev) * 1000000 // den)
                 // COUNT(*) AS BIGINT) AS mae_micro
        FROM errs WHERE b_prev IS NOT NULL
        GROUP BY event_type ORDER BY event_type
      """.trim))
  )
}
