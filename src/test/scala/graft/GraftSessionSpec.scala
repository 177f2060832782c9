package graft

import org.apache.spark.sql.internal.StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES

class GraftSessionSpec extends SparkSpec {

  private def cacheEntries(s: org.apache.spark.sql.SparkSession): Int =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf
      .getConf(CODEGEN_CACHE_MAX_ENTRIES)

  test("tune sizes the codegen cache for the engine's working set") {
    val s = spark.newSession()
    assert(cacheEntries(s) < GraftSession.CodegenCacheEntries)
    GraftSession.tune(s)
    assert(cacheEntries(s) == GraftSession.CodegenCacheEntries)
  }

  test("tune keeps a larger codegen cache set by the caller") {
    val s = spark.newSession()
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf
      .setConfString(CODEGEN_CACHE_MAX_ENTRIES.key, "5000")
    GraftSession.tune(s)
    assert(cacheEntries(s) == 5000)
  }
}
