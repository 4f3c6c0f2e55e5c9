package graft.queries

/** The shared-artifact lifecycle ([[DirCached]]): suite runs over big
  * corpora release every pack's artifacts between chunks
  * ([[DirCached.releaseAll]]) so heap holds one chunk's working set —
  * a released artifact must actually leave the cache (next consumer
  * rebuilds) and an unreleased one must keep being served. */
class DirCachedSpec extends graft.SparkSpec {

  test("releaseAll unpersists and clears every registered cache; the next access rebuilds") {
    // Registry growth is tolerated BY DESIGN: every `new DirCached`
    // registers in the process-wide instance list for the life of the
    // JVM (production instances are a fixed set of `private val`s in
    // the query packs — the list is bounded there). The two test
    // instances below stay registered after this test, but released
    // and empty, so each later releaseAll sweep pays O(1) per ghost.
    val c1 = new DirCached("spec_c1")
    val c2 = new DirCached("spec_c2")
    var builds1 = 0
    var builds2 = 0
    def make1 = { builds1 += 1; spark.range(5).toDF("x") }
    def make2 = { builds2 += 1; spark.range(7).toDF("y") }

    assert(c1(spark, "/a")(make1).count() === 5)
    assert(c1(spark, "/a")(make1).count() === 5) // served from cache
    assert(c1(spark, "/b")(make1).count() === 5) // distinct dir = distinct artifact
    assert(c2(spark, "/a")(make2).count() === 7)
    assert((builds1, builds2) === ((2, 1)))

    // releaseAll sweeps EVERY registered instance, returns the count
    assert(DirCached.releaseAll(spark) >= 3)
    assert(DirCached.releaseAll(spark) === 0) // idempotent

    // next access rebuilds (the chunk-boundary contract)
    assert(c1(spark, "/a")(make1).count() === 5)
    assert(c2(spark, "/a")(make2).count() === 7)
    assert((builds1, builds2) === ((3, 2)))
    DirCached.releaseAll(spark); ()
  }

  test("a build that fails leaves no persisted copy behind; a retry with a good build is served and logged") {
    import org.apache.spark.sql.classic
    import org.apache.spark.sql.functions.{col, udf}
    val c = new DirCached("spec_failing")
    val boom = udf { (_: Long) => throw new IllegalStateException("build failed"); true }
    val bad  = spark.range(3).toDF("x").filter(boom(col("x")))
    intercept[Exception](c(spark, "/f")(bad))
    // the failed frame is no longer registered with the cache manager
    val cacheManager = spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager
    assert(cacheManager.lookupCachedData(bad.asInstanceOf[classic.Dataset[_]]).isEmpty)

    val good = c(spark, "/f")(spark.range(4).toDF("x"))
    assert(good.count() === 4)
    assert(cacheManager.lookupCachedData(good.asInstanceOf[classic.Dataset[_]]).nonEmpty)
    assert(DirCached.buildSeconds.exists(_._1 == "spec_failing"))
    DirCached.releaseAll(spark); ()
  }
}
