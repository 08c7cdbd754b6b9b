package graft.operators

import org.apache.spark.storage.StorageLevel

/** Pins the session index cache's memory contract: bounded LRU where
  * eviction really unpersists (no cached-block leak however many input
  * dirs a long-lived service cycles through) and access refreshes
  * recency; each entry's own release runs exactly once, and a derived
  * value is computed once per (session, dir).
  */
class SharedIndexSpec extends graft.SparkSpec {

  test("LRU eviction unpersists the oldest entry and access refreshes recency") {
    val dir = "/tmp/shared-index-spec"
    // start from a known-empty cache for this (shared) session; other
    // suites' indexes rebuild lazily on their next access
    SharedIndex.invalidate(spark)

    val e0 = SharedIndex(spark, dir, "e0") { spark.range(0, 1).toDF("v") }
    val e1 = SharedIndex(spark, dir, "e1") { spark.range(1, 2).toDF("v") }
    assert(e0.storageLevel != StorageLevel.NONE)
    // touch e0: it must now be more recent than e1
    val e0Again = SharedIndex(spark, dir, "e0") {
      fail("e0 must come from the cache, not rebuild")
    }
    assert(e0Again eq e0)

    // fill to one past capacity: exactly one eviction, and it must be
    // e1 (the least recently used), not the refreshed e0
    // distinct plans per entry: identical plans would share one
    // CacheManager slot and a single unpersist would clear them all
    (2 to 32).foreach { i =>
      SharedIndex(spark, dir, s"e$i") { spark.range(i, i + 1L).toDF("v") }
    }
    assert(e1.storageLevel == StorageLevel.NONE, "evicted entry must be unpersisted")
    assert(e0.storageLevel != StorageLevel.NONE, "refreshed entry must survive")

    // rebuilding an evicted entry works (fresh persist, new frame)
    val e1Rebuilt = SharedIndex(spark, dir, "e1") { spark.range(1, 2).toDF("v") }
    assert(e1Rebuilt.storageLevel != StorageLevel.NONE)

    // drop this test's junk so later suites start from a clean cache
    SharedIndex.invalidate(spark)
  }

  test("an entry's release runs exactly once: on LRU eviction, and on invalidate") {
    val dir = "/tmp/shared-index-spec-release"
    SharedIndex.invalidate(spark)
    val released = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    def put(name: String): String =
      SharedIndex.entry(spark, dir, name)(name)(n => released(n) += 1)

    put("first")
    (1 to 32).foreach(i => put(s"fill$i")) // one past capacity
    assert(released.toMap === Map("first" -> 1))
    SharedIndex.invalidate(spark)
    SharedIndex.invalidate(spark) // nothing left to release
    assert(released.toMap === (("first" +: (1 to 32).map(i => s"fill$i")).map(_ -> 1).toMap))
  }

  test("a count entry computes once per (session, dir)") {
    var computed = 0
    def rows(dir: String): Long =
      SharedIndex.entry(spark, dir, "rows") { computed += 1; dir.length.toLong }(_ => ())
    val (a, b) = ("/tmp/shared-index-spec-a", "/tmp/shared-index-spec-bb")
    assert(rows(a) === a.length && rows(a) === a.length && computed === 1)
    assert(rows(b) === b.length && computed === 2)
    assert(rows(a) === a.length && computed === 2)
    Seq(a, b).foreach(SharedIndex.invalidateEntry(spark, _, "rows"))
  }
}
