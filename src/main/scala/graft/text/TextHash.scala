package graft.text

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Single-pass JVM implementations of the portable text-hash family.
  *
  * Bit-identical to the Column-expression versions in [[graft.functions.Cols]]
  * / [[Dedup]] (asserted by `TextHashParitySpec`), but ~50-100x faster:
  * Spark's higher-order array functions (`transform`, `aggregate`) never
  * enter whole-stage codegen, so the expression forms evaluate interpreted
  * — ~30µs per shingle — and every signature column re-evaluates the whole
  * shingle pipeline. One deterministic UDF call per row computes the full
  * k-signature in a single traversal with a thread-local MD5 instance, and
  * (being codegen-friendly and deterministic) stays inside the generated
  * stage. Preference order per the design notes: native Expression > UDF >
  * other — a custom Expression would buy nothing here because the md5 calls
  * dominate, so the UDF is the right point on the curve.
  *
  * Every hash here is md5-derived, the engine's one hash
  * ([[graft.functions.Cols.HashMode]]): portable, so every derived
  * operator stays oracle-checkable in DuckDB via
  * `CAST('0x' || substring(md5(x),1,8) AS BIGINT)`.
  */
object TextHash {

  private val P = 4294967311L // prime > 2^32; matches Cols.affineHash default

  private val mdLocal: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** First 8 hex chars of md5(s) as unsigned long — the JVM twin of
    * [[graft.functions.Cols.hash32]]. */
  def hash32(s: String): Long = {
    val md = mdLocal.get()
    md.reset()
    val d = md.digest(s.getBytes(StandardCharsets.UTF_8))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** First 15 hex chars of md5(s) as a non-negative long (60 bits).
    * Used where 32 bits would hit the birthday bound — e.g. corpus-wide
    * n-gram keys: ~1M distinct grams has a ~12% chance of a 32-bit
    * collision but ~4e-7 at 60 bits. Oracle-portable as
    * `CAST('0x' || substring(md5(x), 1, 15) AS BIGINT)`. */
  def hash60Md5(s: String): Long = {
    val md = mdLocal.get()
    md.reset()
    val d = md.digest(s.getBytes(StandardCharsets.UTF_8))
    var acc = 0L
    var i = 0
    while (i < 7) { acc = (acc << 8) | (d(i) & 0xffL); i += 1 }
    // 7 bytes = 56 bits, plus the high nibble of byte 7 -> 60 bits
    (acc << 4) | ((d(7) & 0xf0L) >> 4)
  }

  /** Spark's `trim()` strips ASCII SPACE only — Java's `String.trim` strips
    * every control char ≤ 0x20, so a doc with a leading tab would tokenize
    * differently (the tab run becomes a leading empty token in Spark). */
  def sparkTrim(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    if (a == 0 && b == s.length) s else s.substring(a, b)
  }

  /** Whitespace tokens of trimmed text — matches `split(trim(text), "\\s+")`
    * (Spark's split keeps a single empty token for empty input). */
  def tokenize(text: String): Array[String] = sparkTrim(text).split("\\s+", -1)

  /** Word k-shingles as strings; fewer than k tokens -> empty. Matches
    * `Cols.shingles(Cols.tokens(text), k)` — the expression form walks the
    * token array through `transform`/`element_at` higher-order functions,
    * which never enter codegen (~30µs per shingle interpreted); this is
    * one linear pass (CorpusSpec pins parity). */
  def shingles(text: String, k: Int): Array[String] = {
    val toks = tokenize(text)
    if (toks.length < k) Array.empty
    else {
      val out = new Array[String](toks.length - k + 1)
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < out.length) {
        sb.setLength(0)
        var j = 0
        while (j < k) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
        out(i) = sb.toString
        i += 1
      }
      out
    }
  }

  /** Hashes of word k-shingles; fewer than k tokens -> empty. Matches
    * `transform(Cols.shingles(tokens, k), hash32)`. */
  def shingleHashes(text: String, k: Int): Array[Long] = {
    val toks = tokenize(text)
    if (toks.length < k) Array.emptyLongArray
    else {
      val out = new Array[Long](toks.length - k + 1)
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < out.length) {
        sb.setLength(0)
        var j = 0
        while (j < k) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
        out(i) = hash32(sb.toString)
        i += 1
      }
      out
    }
  }

  /** 60-bit hashes of word k-shingles; fewer than k tokens -> empty.
    * Single pass, same shingle construction as [[shingleHashes]] but the
    * wide-hash family — corpus-wide duplicated-n-gram detection keys on
    * these, where a 32-bit collision would silently mark a unique gram
    * duplicated. */
  def shingleHash60s(text: String, k: Int): Array[Long] = {
    val toks = tokenize(text)
    if (toks.length < k) Array.emptyLongArray
    else {
      val out = new Array[Long](toks.length - k + 1)
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < out.length) {
        sb.setLength(0)
        var j = 0
        while (j < k) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
        out(i) = hash60Md5(sb.toString)
        i += 1
      }
      out
    }
  }

  /** (a, b) affine-hash parameters for signature component i — must stay in
    * lockstep with the DuckDB oracle generator. */
  def minhashAB(i: Int): (Long, Long) =
    (2L * (104729L * (i + 1) % 524287L) + 1L, 94906249L * (i + 1) % P)

  /** Full k-component minhash signature in one traversal; docs shorter than
    * the shingle width fall back to the whole-trimmed-text hash (same as the
    * expression form's coalesce). */
  def minhashSig(text: String, k: Int, shingleK: Int): Array[Long] = {
    val hs = shingleHashes(text, shingleK)
    val out = new Array[Long](k)
    if (hs.isEmpty) {
      java.util.Arrays.fill(out, hash32(sparkTrim(text)))
    } else {
      var i = 0
      while (i < k) {
        val (a, b) = minhashAB(i)
        var m = Long.MaxValue
        var j = 0
        while (j < hs.length) {
          val v = (hs(j) * a + b) % P
          if (v < m) m = v
          j += 1
        }
        out(i) = m
        i += 1
      }
    }
    out
  }

  /** SimHash over token hashes: per bit, majority vote. Matches
    * [[Dedup.simhash]]'s expression semantics (votes > 0 -> bit set).
    *
    * bits ≤ 32 votes over the 32-bit token hash (unchanged legacy
    * widths); 32 < bits ≤ 60 votes over [[hash60Md5]] so every bit has a
    * real vote source — found by measurement in round 17: the old code
    * read bits 32+ of a 32-bit hash, leaving the high bands of a
    * "wide" signature constant 0, which silently turned the documented
    * widen-at-corpus-scale dial into one all-docs bucket. 60 (not 64)
    * keeps the per-token hash oracle-portable
    * (`CAST('0x' || substring(md5(x), 1, 15) AS BIGINT)` — positive
    * BIGINT, the [[hash60Md5]] convention). */
  def simhash(text: String, bits: Int): Long = {
    require(bits <= 60,
      s"simhash supports at most 60 bits (oracle-portable hash60 votes), got $bits")
    val toks = tokenize(text)
    val votes = new Array[Int](bits)
    var i = 0
    while (i < toks.length) {
      val h = if (bits <= 32) hash32(toks(i)) else hash60Md5(toks(i))
      var b = 0
      while (b < bits) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < bits) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Min shingle-hash fingerprint with whole-text fallback — matches
    * [[TextAnalysis.fingerprint]]'s expression semantics. */
  def fingerprint(text: String, shingleK: Int): Long = {
    val hs = shingleHashes(text, shingleK)
    if (hs.isEmpty) hash32(sparkTrim(text)) else hs.min
  }

  // ------------------------------------------------------------- Column API

  def minhashSigCol(text: Column, k: Int, shingleK: Int = 3): Column =
    udf((t: String) => if (t == null) null else minhashSig(t, k, shingleK)).apply(text)

  def simhashCol(text: Column, bits: Int): Column =
    udf((t: String) => if (t == null) null else Long.box(simhash(t, bits))).apply(text)

  def fingerprintCol(text: Column, shingleK: Int = 3): Column =
    udf((t: String) => if (t == null) null else Long.box(fingerprint(t, shingleK))).apply(text)

  /** String shingles (no hashing) — corpus decontamination / vocabulary
    * statistics paths. */
  def shinglesCol(text: Column, k: Int): Column =
    udf((t: String) => if (t == null) null else shingles(t, k)).apply(text)

  /** 60-bit shingle hashes (see [[shingleHash60s]]); null text -> empty
    * (a null doc contributes no grams, same as a too-short doc). */
  def shingleHash60sCol(text: Column, k: Int): Column =
    udf((t: String) =>
      if (t == null) Array.emptyLongArray else shingleHash60s(t, k)).apply(text)
}
