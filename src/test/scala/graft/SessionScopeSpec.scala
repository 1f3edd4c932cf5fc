package graft

import graft.queries.FixtureCache

class SessionScopeSpec extends SparkSpec {

  test("Tables.t resolves per session, not per application") {
    Tables.t(spark, sfDir, "orders")
    val s2 = spark.newSession()
    assert(Tables.t(s2, sfDir, "orders").sparkSession eq s2)
    assert(Tables.t(spark, sfDir, "orders").sparkSession eq spark)
  }

  test("a fixture build may read through Tables.t; evict drops it") {
    val s2 = spark.newSession()
    var builds = 0
    def fixture() = FixtureCache.cached(s2, "orders-fixture") {
      builds += 1
      Tables.t(s2, sfDir, "orders").select("o_orderkey")
    }
    val n = fixture().count()
    assert(n > 0 && fixture().count() === n && builds === 1)
    assert(FixtureCache.evict(s2) === 1)
    assert(fixture().count() === n && builds === 2)
    FixtureCache.evict(s2)
  }
}
