package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The fast JVM hash path must be bit-identical to the Column-expression
  * specification it replaced (same md5-derived family the DuckDB oracles
  * reproduce). */
class TextHashParitySpec extends SparkSpec {
  import spark.implicits._

  private val samples = Seq(
    "the quick brown fox jumps over the lazy dog",
    "a b",                 // shorter than shingle width -> fallback hash
    "single",
    "  padded   whitespace  text here  ",
    "one two three",       // exactly one shingle
    "repeat repeat repeat repeat"
  ).toDF("text")

  test("minhash signature: UDF path == expression path") {
    val k = 8
    val fast = samples.select(Dedup.minhashSigCols(col("text"), k): _*).collect()
    val spec = samples.select(Dedup.minhashSigColsExpr(col("text"), k): _*).collect()
    fast.zip(spec).foreach { case (f, s) =>
      (0 until k).foreach(i => assert(f.getLong(i) === s.getLong(i)))
    }
  }

  test("simhash: UDF path == expression path") {
    val fast = samples.select(Dedup.simhash(col("text"), 16)).as[Long].collect().toSeq
    val spec = samples.select(Dedup.simhashExpr(col("text"), 16)).as[Long].collect().toSeq
    assert(fast === spec)
  }

  test("fingerprint: UDF path == expression path") {
    val fast = samples.select(TextAnalysis.fingerprint(col("text"))).as[Long].collect().toSeq
    val spec = samples.select(TextAnalysis.fingerprintExpr(col("text"))).as[Long].collect().toSeq
    assert(fast === spec)
  }

  test("hash32 JVM == hash32 expression") {
    val vals = Seq("abc", "", "hello world", "ünïcode ✓").toDF("s")
    val fast = vals.as[String].collect().toSeq.map(TextHash.hash32)
    val spec = vals.select(graft.functions.Cols.hash32(col("s"))).as[Long].collect().toSeq
    assert(fast === spec)
  }
}
