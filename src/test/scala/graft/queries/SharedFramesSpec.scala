package graft.queries

import java.io.File

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.Tables
import graft.engine.Scratch
import graft.ext.NearDup

class SharedFramesSpec extends SparkSpec {

  test("materialized pair frame equals the live pipeline and builds only once") {
    val dir = sf0001
    val path = SharedFrames.path(spark, dir, "mh_pairs_n3_k64_b16_t080")

    val fromHelper = SharedFrames.verifiedDocPairs(spark, dir)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val live = NearDup.minHashNearDupPairs(Tables.documents(spark, dir),
        "doc_id", "text", n = 3, k = 64, bands = 16, threshold = 0.8)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // Bit-exact equality including the jaccard doubles: the parquet
    // round-trip must not change a single value, or the 11 consumers'
    // oracles (which re-derive the pair set from first principles) drift.
    assert(fromHelper === live)
    assert(fromHelper.nonEmpty, "fixture must contain planted near-dup pairs")

    // Second call reads back instead of rebuilding: the _SUCCESS marker's
    // mtime must not move (a rebuild rewrites the directory).
    val marker = new File(path, "_SUCCESS")
    assert(marker.exists, s"expected materialized frame at $path")
    val mtime = marker.lastModified()
    val again = SharedFrames.verifiedDocPairs(spark, dir).count()
    assert(again.toInt === fromHelper.size)
    assert(marker.lastModified() === mtime,
      "second call must read the scratch parquet back, not rebuild it")
  }

  test("materialized mutual-kNN edges equal the live construction and build only once") {
    val dir = sf0001
    val fromHelper = SharedFrames.mutualKnnEdges(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val live = graft.ext.Similarity.mutualKnnGraph(
        Tables.embeddings(spark, dir), "vec_id", "embedding", "label", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromHelper === live)
    assert(fromHelper.nonEmpty)
    val marker = new File(SharedFrames.path(spark, dir, "mknn_cell_k3"), "_SUCCESS")
    assert(marker.exists)
    val mtime = marker.lastModified()
    assert(SharedFrames.mutualKnnEdges(spark, dir).count().toInt === fromHelper.size)
    assert(marker.lastModified() === mtime,
      "second call must read the artifact back, not rebuild it")
  }

  test("materialized shingle frame equals the live construction and builds only once") {
    val dir = sf0001
    def asSets(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val fromHelper = asSets(SharedFrames.docShingles(spark, dir, 3))
    val live = asSets(NearDup.shingleFrame(
      Tables.documents(spark, dir), "doc_id", "text", 3))
    // SET equality per doc: every consumer (containment, prefix filter,
    // Jaccard verify) is order-insensitive in the array, so the set is the
    // contract the parquet round-trip must preserve.
    assert(fromHelper === live)
    assert(fromHelper.nonEmpty)
    val marker = new File(SharedFrames.path(spark, dir, "doc_shingles_n3"), "_SUCCESS")
    assert(marker.exists)
    val mtime = marker.lastModified()
    assert(SharedFrames.docShingles(spark, dir, 3).count().toInt === fromHelper.size)
    assert(marker.lastModified() === mtime,
      "second call must read the artifact back, not rebuild it")
    // n participates in the key: the n=8 frame is a different artifact
    assert(SharedFrames.path(spark, dir, "doc_shingles_n8")
      !== SharedFrames.path(spark, dir, "doc_shingles_n3"))
  }

  test("materialized minhash signatures equal the live construction and build only once") {
    val dir = sf0001
    def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    val fromHelper = asMap(SharedFrames.minhashSigs(spark, dir))
    val live = asMap(NearDup.minHashSignatureFrame(
      NearDup.shingleFrame(Tables.documents(spark, dir), "doc_id", "text", 3),
      "doc_id", k = 64))
    // EXACT per-slot equality: the signature array is positional (slot
    // index), so the parquet round-trip must preserve order, not just sets.
    assert(fromHelper === live)
    assert(fromHelper.nonEmpty)
    val marker = new File(SharedFrames.path(spark, dir, "minhash_sigs_n3_k64"), "_SUCCESS")
    assert(marker.exists)
    val mtime = marker.lastModified()
    assert(SharedFrames.minhashSigs(spark, dir).count().toInt === fromHelper.size)
    assert(marker.lastModified() === mtime,
      "second call must read the artifact back, not rebuild it")
  }

  test("pair frames are keyed by scale dir: different dirs never cross-read") {
    // ScaleData's 10x rehearsal dir and the base dir share a session — the
    // scratch key must keep them apart (a cross-read would hand the 10x
    // rehearsal the 1x pair set and silently invalidate its timings).
    val a = SharedFrames.path(spark, "/data/sf0.1", "mh_pairs_n3_k64_b16_t080")
    val b = SharedFrames.path(spark, "/tmp/graft_scale/app/sf0.1_x10",
      "mh_pairs_n3_k64_b16_t080")
    assert(a !== b)
    // ADVICE_r06: the key hashes the FULL canonical path, so two corpora
    // with IDENTICAL leaf names in one session also stay apart.
    val c = SharedFrames.path(spark, "/other/corpus/sf0.1", "mh_pairs_n3_k64_b16_t080")
    assert(a !== c)
  }
}
