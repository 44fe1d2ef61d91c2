package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVF-PQ residual index as a first-class operator with a LIFECYCLE
  * (round-9 graduation of the round-8 q495 pipeline, which built the whole
  * index inside each search query): the index artifact — coarse centroids,
  * product-quantization codebooks, per-vector codes — is a value that is
  * BUILT once, PERSISTED (graft.queries.SharedFrames materializes it to
  * parquet per session+corpus), SEARCHED many times, and MAINTAINED
  * incrementally (delta batches of new vectors are assigned to the frozen
  * cells/codebooks — [[assignCodes]] — instead of triggering a rebuild).
  * That is the production shape: FAISS-style deployments train
  * centroids/codebooks on a snapshot and append codes for months.
  *
  * Numeric contract (identical to the round-8 in-query pipeline, so the
  * q495/q496 gates are unchanged by the refactor): residuals against the
  * OWN cell centroid quantized to integer MICRO units (round(r*1e6) — all
  * later sums are exact integers); codebooks = 4 subspaces x 16 dims, 32
  * codewords (5-bit codes), seeded by the residual sign pattern over dims
  * 1-5 and refined one Lloyd step (mean of pattern members from exact
  * integer sums, ONE final double division); code assignment = nearest
  * codeword by a fixed-order sequential squared-L2 sum, ties to the lowest
  * codeword id; ADC = four table lookups folded in a FIXED tree — never a
  * merge-order relational SUM of doubles. Every stage is engine-exact, so
  * the DuckDB oracle replays the index bit-for-bit.
  *
  * Scale shape: centroids (cell-bounded) and codebooks (128 rows) are
  * broadcast; the codes frame is corpus-linear and only ever streams
  * (shuffled joins / map-side broadcast probes against it); the ADC
  * distance table is probes x nprobe x M x 32 — bounded — and broadcast.
  * The build materializes the two bounded artifacts once each on the
  * driver ([[buildIndex]]); the corpus-linear codes stay lazy.
  */
object IvfPq {

  /** Subspace count (M) and dims per subspace: 4 x 16 over dim-64 vectors,
    * 32 codewords each — the 16-byte-per-vector layout (4 x 5-bit codes +
    * cell id) that lets a 100 TB vector corpus live in executor RAM.
    */
  val M = 4
  val SubDim = 16

  /** Vector width the index quantizes (M x SubDim) — also the width the
    * derived coarse quantizer hashes over.
    */
  val Dim: Int = M * SubDim

  /** The DERIVED cell-count rule (round 14 — the q524 contract applied to
    * the whole index lifecycle): the coarse quantizer's cell space is a
    * function of CORPUS SIZE, never a fixture attribute — planes = the
    * smallest p with 2^p * 64 >= n, so cells ~= n/64 and the expected
    * cell size stays ~64 at ANY corpus scale. A fixed cell space makes
    * cell size corpus-linear and every in-cell stage quadratic at 100x —
    * the exact anti-pattern a production index avoids by growing cell
    * COUNT. Capped at 56: (1L << 56) * 64 = 2^62 is the largest
    * shift-times-64 that cannot overflow a signed long in either engine
    * (the oracle evaluates the predicate for every series element).
    */
  def derivedPlanes(n: Long): Int =
    math.max(1, (0 to 56).find(p => (1L << p) * 64L >= n).getOrElse(56))

  /** Attach the derived SRP coarse-quantizer cell for a FROZEN plane count
    * (from [[derivedPlanes]] over the TRAINING corpus): `planes` codegen'd
    * dot products per row against driver-folded sign literals
    * (Similarity.hyperplaneBucketFast) — corpus-linear, no centroid fit,
    * no broadcast that grows with n, and stateless, so a streamed arrival
    * or a batch delta gets its cell from the same frozen expression the
    * build used (the cell is part of the frozen index, like the
    * codebooks). Works on streaming frames (pure projection).
    */
  def withDerivedCells(corpus: DataFrame, vecCol: String, planes: Int,
      cellCol: String = "cell"): DataFrame =
    corpus.withColumn(cellCol,
      Similarity.hyperplaneBucketFast(col(vecCol), planes, Dim))

  /** The persistable index artifact:
    *  - cents: (cell, centroid: array<double>) — the coarse quantizer;
    *  - cw:    (m, g, cwvec: array<double>)   — PQ codebooks;
    *  - codes: (id, cell, m, g)               — per-(vector, subspace) codes.
    * All three round-trip parquet exactly (double arrays + longs/ints).
    */
  final case class Index(cents: DataFrame, cw: DataFrame, codes: DataFrame)

  /** Sign-pattern codebook seed: bits of (r[0..4] >= 0) packed MSB-first. */
  private def signSeed(r: Column): Column =
    (0 until 5).map(i =>
      (r.getItem(i) >= 0L).cast("int") * (1 << (4 - i))).reduce(_ + _)

  /** Integer-micro residual subspace parts of `corpus` against `cents`:
    * (id, cell, m, r) with r = round((v - centroid) * 1e6) sliced to the
    * m-th 16-dim subspace. The centroid join is cell-bounded -> broadcast.
    */
  def residualParts(corpus: DataFrame, cents: DataFrame, idCol: String,
      vecCol: String, cellCol: String): DataFrame = {
    // the index side's cell is renamed before the join so a corpus whose
    // cell column is itself named "cell" (the derived-cell convention)
    // joins unambiguously
    val ixCents = cents.select(col("cell").as("__ixcell"), col("centroid"))
    val rv = corpus.join(broadcast(ixCents), col(cellCol) === col("__ixcell"))
      .select(col(idCol).as("id"), col(cellCol).as("__pcell"),
        zip_with(col(vecCol), col("centroid"),
          (x, c) => round((x.cast("double") - c) * lit(1000000.0)).cast("long"))
          .as("rmicro"))
    rv.select(col("id"), col("__pcell"),
        explode(array((0 until M).map(m =>
          struct(lit(m).as("m"),
            slice(col("rmicro"), m * SubDim + 1, SubDim).as("r"))): _*)).as("p"))
      .select(col("id"), col("__pcell").as("cell"), col("p.m").as("m"), col("p.r").as("r"))
  }

  /** Train the PQ codebooks from residual parts: sign-pattern seed groups,
    * one Lloyd step = exact integer mean per (m, g, dim), dim-ordered
    * re-assembly. Output (m, g, cwvec) — at most M x 32 rows.
    */
  def trainCodebooks(parts: DataFrame): DataFrame =
    parts.withColumn("g", signSeed(col("r")))
      .select(col("m"), col("g"), posexplode(col("r")).as(Seq("dim", "v")))
      .groupBy("m", "g", "dim")
      .agg((sum(col("v")).cast("double") / count(lit(1)).cast("double")).as("cwv"))
      .groupBy("m", "g")
      .agg(array_sort(collect_list(struct(col("dim"), col("cwv")))).as("__cd"))
      .select(col("m"), col("g"),
        transform(col("__cd"), s0 => s0.getField("cwv")).as("cwvec"))

  /** Assign each residual part to its nearest codeword under the FROZEN
    * codebooks `cw` — the incremental-maintenance primitive: a delta batch
    * of new vectors gets codes without retraining (exactly what the full
    * build does for the base corpus, so incremental == rebuild on any
    * vector whose codebooks didn't move). Ties to the lowest codeword id
    * via the TopKPerKey heap (k=1). Output (id, cell, m, g).
    */
  def assignCodes(parts: DataFrame, cw: DataFrame): DataFrame =
    graft.plans.TopKPerKey.of(
        parts.join(broadcast(cw), Seq("m"))
          .select(col("id"), col("cell"), col("m"), col("g"),
            Similarity.d2(col("r"), col("cwvec")).as("cd2")),
        keyCols = Seq("id", "m"),
        order = Seq("cd2" -> true, "g" -> true), k = 1)
      .select(col("id"), col("cell"), col("m"), col("g"))

  /** Full index build: exact coarse centroids -> residual parts -> trained
    * codebooks -> frozen-codebook code assignment (for the training corpus
    * itself, assignment under the just-trained codebooks — identical
    * semantics to the round-8 in-query pipeline).
    *
    * Centroids (one row per cell) and codebooks (at most M x 32 rows) are
    * collected once each and come back as local frames holding exactly the
    * rows [[Similarity.exactCentroids]] and [[trainCodebooks]] compute, so
    * the lazy codes frame and the caller's writes read them instead of
    * re-running the corpus aggregates behind them. Both already pass
    * through the driver as broadcasts, so driver memory stays bounded by
    * the same rows. The returned `cents` and `cw` are planned as one
    * partition each (one file per write).
    */
  def buildIndex(corpus: DataFrame, idCol: String, vecCol: String,
      cellCol: String): Index = {
    graft.functions.GraftFunctions.ensureRegistered(corpus.sparkSession)
    val cents = collected(Similarity.exactCentroids(corpus, vecCol, cellCol))
    val parts = residualParts(corpus, cents, idCol, vecCol, cellCol)
    val cw = collected(trainCodebooks(parts))
    Index(cents.coalesce(1), cw.coalesce(1), assignCodes(parts, cw))
  }

  /** `df`'s rows as a driver-side local frame of the same schema: the one
    * evaluation of a bounded frame that several plans read.
    */
  private def collected(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** ADC search against a (possibly read-back) index: `probes` carries
    * (query_id, qv); each probe visits its `nprobe` nearest cells by exact
    * centroid distance, takes the QUERY residual against each probed
    * cell's centroid (the defining IVF-PQ move), expands the bounded
    * probes x nprobe x M x 32 ADC distance table (broadcast), scores every
    * code in the probed cells with the fixed ((d0+d1)+d2)+d3 fold, and
    * keeps the `shortlist` best per query. Output (query_id, neighbor_id,
    * adc). Self-pairs excluded.
    */
  def adcShortlist(ix: Index, probes: DataFrame, nprobe: Int,
      shortlist: Int): DataFrame = {
    // Same ENFORCED bounded-frame contract as the Similarity broadcast-probe
    // family (q497's round-9 guard, extended here): `probes` rides two
    // broadcasts (the centroid crossJoin and the ADC distance table) and
    // feeds the probed-cell collect — a corpus-shaped probe frame would
    // broadcast corpus-linear state and collect an unbounded cell list.
    // Plan-time maxRows check; corpus-as-queries callers must sample via
    // hashOrderedProbes/LIMIT like every other broadcast-probe operator.
    Similarity.requireBounded(probes, "adcShortlist", "probes")
    graft.functions.GraftFunctions.ensureRegistered(probes.sparkSession)
    val qc = collected(graft.plans.TopKPerKey.of(
        probes.crossJoin(broadcast(ix.cents))
          .select(col("query_id"), col("qv"), col("cell"), col("centroid"),
            Similarity.d2(col("qv"), col("centroid")).as("qd2")),
        keyCols = Seq("query_id"),
        order = Seq("qd2" -> true, "cell" -> true), k = nprobe)
      .select(col("query_id"), col("qv"), col("cell"), col("centroid")))
    val qparts = qc
      .select(col("query_id"), col("cell"),
        zip_with(col("qv"), col("centroid"),
          (x, c) => round((x.cast("double") - c) * lit(1000000.0)).cast("long"))
          .as("rqmicro"))
      .select(col("query_id"), col("cell"),
        explode(array((0 until M).map(m =>
          struct(lit(m).as("m"),
            slice(col("rqmicro"), m * SubDim + 1, SubDim).as("rq"))): _*)).as("p"))
      .select(col("query_id"), col("cell"), col("p.m").as("m"), col("p.rq").as("rq"))
    val dt = qparts.join(broadcast(ix.cw), Seq("m"))
      .select(col("query_id"), col("cell"), col("m"), col("g"),
        Similarity.d2(col("rq"), col("cwvec")).as("dd"))
    // The IVF search-coordinator move: the probed cell list is KNOWN and
    // bounded (probes x nprobe rows) before any corpus IO — collect it and
    // push it into the codes scan as a STATIC partition filter, so the
    // cell-partitioned artifact (SharedFrames.ivfPqIndex) reads ONLY the
    // probed cells' files — FAISS-style inverted-list IO, sublinear in
    // storage, not just compute. (Dynamic partition pruning cannot derive
    // this: the cell pick flows through the custom heap top-k node, which
    // the DPP selectivity heuristics don't see through.) The cell pick `qc`
    // is collected once (probes x nprobe rows): the probed-cell list and
    // the ADC table both read that local frame, so the pick never reruns
    // inside the main plan. Values are unchanged — the join's cell
    // equality already implied the filter.
    // LOAD-BEARING for callers' observe() audits (ADVICE_r13): the `qc`
    // collect is the ONLY evaluation of `probes` (everything after it
    // reads the local frame), so an Observation a caller attached to the
    // probes frame (the streaming serve cap audit,
    // EventStreams.startAnnServe) resolves when this collect fully
    // evaluates the probes subtree — including a caller's LIMIT. If this
    // collect ever stops consuming the full probes plan (e.g. a future
    // sampled or lazy cell pick), the serve contract's cap metric must
    // move to an action the caller controls.
    val probedCells = qc.collect().map(_.getAs[Any]("cell")).distinct.toSeq
    val codes = ix.codes.filter(col("cell").isInCollection(probedCells))
    val contrib = codes
      .join(broadcast(dt),
        dt("cell") === codes("cell") && dt("m") === codes("m")
          && dt("g") === codes("g"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        codes("m").as("cm"), col("dd"))
    val adc = contrib
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(
        max(when(col("cm") === 0, col("dd"))).as("d0"),
        max(when(col("cm") === 1, col("dd"))).as("d1"),
        max(when(col("cm") === 2, col("dd"))).as("d2"),
        max(when(col("cm") === 3, col("dd"))).as("d3"))
      .select(col("query_id"), col("neighbor_id"),
        (((col("d0") + col("d1")) + col("d2")) + col("d3")).as("adc"))
    graft.plans.TopKPerKey.of(adc,
        keyCols = Seq("query_id"),
        order = Seq("adc" -> true, "neighbor_id" -> true), k = shortlist)
      .select("query_id", "neighbor_id", "adc")
  }
}
