package graft

import graft.plans.{DsRangeRewrite, LevenshteinPrefilter}

class GraftSessionSpec extends SparkSpec {

  test("every new session is built with the shared confs") {
    assert(GraftSession.confs(7) == Map(
      "spark.sql.shuffle.partitions" -> "7",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "5000"))
  }

  test("install twice leaves each optimizer rule in place exactly once") {
    val s = SparkSpec.session.newSession()
    assert(GraftSession.install(s) eq s)
    GraftSession.install(s)
    val rules = s.experimental.extraOptimizations
    assert(rules.count(_ eq DsRangeRewrite) == 1, rules)
    assert(rules.count(_ eq LevenshteinPrefilter) == 1, rules)
  }
}
