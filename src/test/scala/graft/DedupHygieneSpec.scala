package graft

import graft.queries.Dedup

/** The unpersist-hygiene contract of the persisting dedup builders
  * (`Dedup.settled`): each builder releases every INTERMEDIATE cache
  * before returning, leaving at most its own (already materialized)
  * result in the block manager — which the caller releases with
  * `unpersist()`. An application looping these builders over daily
  * batches must not accumulate shingle/signature-sized residents.
  */
class DedupHygieneSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def assertHygiene(name: String)(build: => org.apache.spark.sql.DataFrame): Unit = {
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val result = build
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    // at most the result's own InMemoryRelation remains resident
    assert(added.size <= 1, s"$name leaked intermediate caches: rdd ids $added")
    assert(result.count() > 0, s"$name returned no rows")
    result.unpersist(blocking = true)
    val leftover = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leftover.isEmpty, s"$name left residents after unpersist: $leftover")
  }

  test("ddMinhashLsh releases sig+bands caches; only the result stays") {
    assertHygiene("ddMinhashLsh")(Dedup.ddMinhashLsh(spark, sfDir))
  }

  test("ddNgramJaccard releases the postings cache; only the result stays") {
    assertHygiene("ddNgramJaccard")(Dedup.ddNgramJaccard(spark, sfDir))
  }

  test("ddEmbedLsh releases the bands cache; only the result stays") {
    assertHygiene("ddEmbedLsh")(Dedup.ddEmbedLsh(spark, sfDir))
  }

  test("ddPipelineManifest releases the shared shingle and LSH caches; only the result stays") {
    assertHygiene("ddPipelineManifest")(Dedup.ddPipelineManifest(spark, sfDir))
  }

  test("repeated builder calls do not accumulate intermediate residents") {
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val r1 = Dedup.ddEmbedLsh(spark, sfDir)
    val r2 = Dedup.ddEmbedLsh(spark, sfDir)
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    // one resident per RESULT, never per intermediate
    assert(added.size <= 2, s"accumulating residents: rdd ids $added")
    r1.unpersist(blocking = true)
    r2.unpersist(blocking = true)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
  }
}
