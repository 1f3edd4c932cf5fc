package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchCheckSpec extends AnyFunSuite {

  test("queryMedians reads the medians of a detail file that carries counters") {
    val artifact =
      """{"metric":"total","value":0.750,"unit":"sec","n":2,"reps":3,""" +
        """"sf":"/data/sf0.01","cpus":4,"queries":{"a_q":0.250,"b_q":0.500},""" +
        """"runs":{"a_q":[0.300,0.250,0.200],"b_q":[0.500,0.600,0.400]},""" +
        """"errors":{},"counters":{""" +
        s""""a_q":${RunStats(3, 4, 9, 1024, 512, 512).json},""" +
        s""""b_q":${RunStats(1, 1, 4, 0, 0, 0).json}}}"""
    assert(BenchCheck.queryMedians(artifact) === Map("a_q" -> 0.25, "b_q" -> 0.5))
  }
}
