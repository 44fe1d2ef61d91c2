package graft.ext

import graft.SparkSpec

/** [[NearDup.incrementalPairs]] returns one plan with no materialization of
  * its own: its multi-consumer frames are shared under plan barriers. The
  * maintained pair set must equal from-scratch LSH over the new version, and
  * must not depend on the plan settings the sharing rides on.
  */
class IncrementalPairsSpec extends SparkSpec {

  private lazy val fixture = IncrementalPairsFixture(spark, sf0001)

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("id_a", "id_b", "jaccard").collect().map(_.mkString("|")).toSeq.sorted

  test("incremental pairs equal from-scratch LSH over the new version") {
    val fromScratch = NearDup.minHashNearDupPairs(fixture.versionB, "doc_id", "text",
      IncrementalPairsFixture.N, IncrementalPairsFixture.K, IncrementalPairsFixture.Bands,
      IncrementalPairsFixture.Threshold)
    val maintained = rows(fixture.pairs)
    assert(maintained.nonEmpty)
    assert(maintained.exists(_.startsWith("-")), "the fresh clones pair with their originals")
    assert(maintained == rows(fromScratch))
  }

  test("incremental pairs do not depend on AQE or the shuffle partition count") {
    val settings = for (aqe <- Seq("true", "false"); parts <- Seq("1", "4", "200"))
      yield (aqe, parts)
    val rendered = settings.map { case (aqe, parts) =>
      val prior = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
        .map(k => k -> spark.conf.get(k))
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try s"aqe=$aqe parts=$parts" -> rows(fixture.pairs)
      finally prior.foreach { case (k, v) => spark.conf.set(k, v) }
    }
    val (_, reference) = rendered.head
    assert(reference.size > 10)
    rendered.foreach { case (setting, out) => assert(out == reference, setting) }
  }
}
