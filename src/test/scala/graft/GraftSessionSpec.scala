package graft

import org.apache.spark.storage.StorageLevel

/** Bench, Verify, Explain and ScaleProbe call `GraftSession.release`
  * between queries so a finished query's blocks leave the memory pool. */
class GraftSessionSpec extends SparkSpec {

  test("release empties the cache manager and unpersists every persisted RDD") {
    val df = spark.range(1000).selectExpr("id", "id % 7 AS k").cache()
    assert(df.count() == 1000)
    val rdd = spark.sparkContext.parallelize(1 to 1000, 4).persist(StorageLevel.MEMORY_ONLY)
    assert(rdd.count() == 1000)
    assert(!spark.sharedState.cacheManager.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.contains(rdd.id))

    GraftSession.release(spark)

    assert(spark.sharedState.cacheManager.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    // a released Dataset still answers, recomputed from its plan
    assert(df.count() == 1000)
  }
}
