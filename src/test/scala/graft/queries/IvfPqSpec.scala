package graft.queries

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.ext.{IvfPq, Similarity}

/** Specs for the IvfPq index operator and its persisted-artifact lifecycle
  * (the q498/q499/q501 substrate). Correctness of the VALUES is hash-gated
  * through the DuckDB oracles; these pin the structural contracts the
  * gates assume.
  */
class IvfPqSpec extends SparkSpec {

  private lazy val e = Tables.embeddings(spark, sf0001)

  test("buildIndex emits M codes per vector, codeword ids in the 5-bit range, deterministically") {
    val ix = IvfPq.buildIndex(e, "vec_id", "embedding", "label")
    val n = e.count()
    assert(ix.codes.count() === n * IvfPq.M)
    assert(ix.codes.groupBy("id").count().filter(col("count") =!= IvfPq.M).count() === 0)
    assert(ix.codes.filter(col("g") < 0 || col("g") > 31).count() === 0)
    assert(ix.cw.count() <= IvfPq.M * 32)
    // centroid per cell, dim-64 double vectors
    assert(ix.cents.select("cell").distinct().count() === ix.cents.count())
    // deterministic rebuild
    val ix2 = IvfPq.buildIndex(e, "vec_id", "embedding", "label")
    assert(ix.codes.except(ix2.codes).count() === 0)
    assert(ix2.codes.except(ix.codes).count() === 0)
  }

  test("buildIndex returns centroids and codebooks as one-partition local frames, bit-equal to the lazy stages") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val cells = IvfPq.withDerivedCells(e, "embedding", IvfPq.derivedPlanes(e.count()))
    val ix = IvfPq.buildIndex(cells, "vec_id", "embedding", "cell")
    val lazyCents = Similarity.exactCentroids(cells, "embedding", "cell")
    val lazyCw = IvfPq.trainCodebooks(
      IvfPq.residualParts(cells, lazyCents, "vec_id", "embedding", "cell"))
    // exact bits of every double, so -0.0 / NaN differences cannot hide
    def bits(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      r.toSeq.map {
        case v: scala.collection.Seq[_] =>
          v.map(d => java.lang.Double.doubleToRawLongBits(d.asInstanceOf[Double]))
        case x => x
      }).toSet
    for ((built, lazyFrame) <- Seq(ix.cents -> lazyCents, ix.cw -> lazyCw)) {
      assert(built.queryExecution.analyzed.collectLeaves()
        .forall(_.isInstanceOf[LocalRelation]), built.queryExecution.analyzed)
      assert(built.rdd.getNumPartitions === 1)
      assert(built.schema === lazyFrame.schema)
      assert(bits(built) === bits(lazyFrame))
    }
  }

  test("assignCodes under frozen codebooks reproduces the build's own codes (incremental == rebuild on unchanged vectors)") {
    // The q499/q501 construction invariant: the incremental path IS the
    // build's assignment step, so re-assigning the training corpus against
    // the frozen artifacts must be a fixed point.
    val cents = Similarity.exactCentroids(e, "embedding", "label")
    val parts = IvfPq.residualParts(e, cents, "vec_id", "embedding", "label")
    val cw = IvfPq.trainCodebooks(parts)
    val built = IvfPq.assignCodes(parts, cw)
    val reassigned = IvfPq.assignCodes(
      IvfPq.residualParts(e, cents, "vec_id", "embedding", "label"), cw)
    assert(built.except(reassigned).count() === 0)
    assert(reassigned.except(built).count() === 0)
  }

  test("the persisted artifact round-trips bit-exactly and builds once per session+dir") {
    // the artifact rides DERIVED cells (round 14 — the q524 rule): the
    // live rebuild must derive the same planes from the same corpus
    val live = IvfPq.buildIndex(
      IvfPq.withDerivedCells(e, "embedding", IvfPq.derivedPlanes(e.count())),
      "vec_id", "embedding", "cell")
    val persisted = SharedFrames.ivfPqIndex(spark, sf0001)
    // parquet round-trip loses nothing: codes, codebooks and centroids all
    // read back equal to a live build
    assert(persisted.codes.except(live.codes).count() === 0)
    assert(live.codes.except(persisted.codes).count() === 0)
    assert(persisted.cw.except(live.cw).count() === 0)
    assert(persisted.cents.except(live.cents).count() === 0)
    // build-once: the artifact directory timestamps don't change on re-read
    val dir = new java.io.File(
      SharedFrames.path(spark, sf0001, "ivfpq_m4x16_cw32_dcell"), "codes")
    val before = dir.lastModified()
    SharedFrames.ivfPqIndex(spark, sf0001).codes.count()
    assert(dir.lastModified() === before, "second access must not rebuild")
  }

  test("adcShortlist rejects a corpus-shaped (unbounded) probe frame at plan time") {
    // The search coordinator broadcasts two probe-derived frames and
    // collects the probed-cell list — the same footgun class as the
    // round-7 annTopKByCell defect, guarded the same way as the rest of
    // the broadcast-probe family: a frame whose logical plan carries no
    // row bound is refused at construction, before a single job runs.
    val ix = SharedFrames.ivfPqIndex(spark, sf0001)
    val corpusProbes = e.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val ex = intercept[IllegalArgumentException] {
      IvfPq.adcShortlist(ix, corpusProbes, nprobe = 2, shortlist = 5)
    }
    assert(ex.getMessage.contains("adcShortlist"))
    // a LIMIT-bounded probe frame constructs fine
    IvfPq.adcShortlist(ix, corpusProbes.limit(5), nprobe = 2, shortlist = 5)
  }
}
