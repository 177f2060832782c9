package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Cols

/** Deduplication operators (builder brief: exact, MinHash+LSH, SimHash,
  * n-gram Jaccard). Hashes are the portable md5-derived family from
  * [[Cols]], so signatures are bit-reproducible across engines and runs.
  *
  * Scale shape: everything is groupBy/join on hash-derived keys — no
  * pairwise O(n²) stage ever touches the full corpus. Candidate pairs come
  * from band buckets (LSH) whose sizes are data-bounded; the exact-verify
  * join runs only on candidates.
  */
object Dedup {

  /** The exact-dedup digest, md5 of the trimmed text — shared by [[exact]]
    * and the streaming form so the two dedup indexes key identically. The
    * full 128-bit md5 is oracle-portable and far past the ~77k-doc
    * birthday bound of a 32-bit hash. */
  def exactDigest(textCol: Column): Column = md5(trim(textCol))

  /** Exact dedup: group identical normalized text, keep the smallest id.
    * One hash-shuffle on a fixed-width digest instead of the full document
    * — the at-scale trick is to shuffle hash(text), never text itself.
    * The digest is [[exactDigest]]. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    docs
      .select(col(idCol), exactDigest(col(textCol)).as("text_hash"))
      .groupBy("text_hash")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
  }

  /** MinHash signature columns `mh0..mh{k-1}` for a document: min over word
    * `shingleK`-shingles of k independent affine hashes. One single-pass
    * UDF call produces the whole signature ([[TextHash.minhashSig]]); the
    * per-component columns are `element_at` views of that array. */
  def minhashSigCols(text: Column, k: Int, shingleK: Int = 3): Seq[Column] = {
    val sig = TextHash.minhashSigCol(text, k, shingleK)
    (0 until k).map(i => element_at(sig, i + 1).as(s"mh$i"))
  }

  /** Expression-tree form of [[minhashSigCols]] — interpreted (HOFs skip
    * codegen) and k-times redundant, so ~100x slower; retained as the
    * specification the fast path is parity-tested against. */
  private[text] def minhashSigColsExpr(text: Column, k: Int, shingleK: Int = 3): Seq[Column] = {
    val sh = Cols.shingles(Cols.tokens(text), shingleK)
    val hs = transform(sh, s => Cols.hash32(s))
    (0 until k).map { i =>
      // distinct (a,b) per hash function; a odd, ≤ 2^20 (overflow-safe)
      val (a, b) = TextHash.minhashAB(i)
      coalesce(array_min(transform(hs, h => Cols.affineHash(h, a, b))),
        Cols.hash32(trim(text))).as(s"mh$i")
    }
  }

  /** Exploded LSH band keys over signature columns named `<prefix>0..`:
    * one `bkey` row per band, "b_mh..mh" concatenated. ONE definition —
    * [[minhashCandidates]], [[minhashCandidatesCross]], and their
    * SparkEntry oracles must all agree on this layout. */
  private def bandKeyExplode(k: Int, bands: Int, prefix: String): Column = {
    val rows = k / bands
    explode(array((0 until bands).map { b =>
      concat_ws("_", lit(b) +: (b * rows until (b + 1) * rows)
        .map(i => col(s"$prefix$i")): _*)
    }: _*)).as("bkey")
  }

  /** Estimated Jaccard = fraction of equal signature components between
    * columns `<aPrefix>i` and `<bPrefix>i`. */
  private def estJaccardExpr(k: Int, aPrefix: String, bPrefix: String): Column =
    ((0 until k).map(i => (col(s"$aPrefix$i") === col(s"$bPrefix$i")).cast("int"))
      .reduce(_ + _).cast("double") / k).as("est_jaccard")

  /** MinHash + LSH near-dup candidate pairs: signatures → band keys
    * (`bands` bands of `k/bands` rows) → self-join per band bucket →
    * distinct candidate pairs with estimated Jaccard = fraction of equal
    * signature components. NULL-text docs are dropped before banding: a
    * null signature would otherwise produce the BARE band-index keys
    * ("0".."b-1") and band-collide with every other null-text doc, while
    * the SQL oracles' `a.mh = b.mh` is never true for NULL. */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 12, bands: Int = 6, shingleK: Int = 3): DataFrame = {
    // Materialize signatures ONCE. The naive self-join inlines the
    // md5-shingle pipeline on both sides of one stage, which blows past
    // codegen limits and falls back to interpreted evaluation (~50x
    // slower); localCheckpoint is no better — it materializes through the
    // RDD path, also interpreted. persist + eager count keeps the one
    // computation inside whole-stage codegen and lets both join sides read
    // the cache (MEMORY_AND_DISK: spills, safe at cluster scale; blocks
    // are freed by the ContextCleaner once the result is unreachable).
    val sigs = docs
      .select(col(idCol).as("doc_id") +: minhashSigCols(col(textCol), k, shingleK): _*)
      .filter(col("mh0").isNotNull) // null text -> whole-null signature
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sigs.count()
    val banded = sigs.select(col("doc_id"), bandKeyExplode(k, bands, "mh"))
    // Narrow pair discovery (ids only), then one re-join to attach both
    // signatures for the eq-fraction estimate — keeps the shuffled rows at
    // 3 columns instead of 2k+2 signature columns.
    val pairs = banded.as("a").join(banded.as("b"),
        col("a.bkey") === col("b.bkey") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    val sa = sigs.select(col("doc_id").as("id_a") +:
      (0 until k).map(i => col(s"mh$i").as(s"a_mh$i")): _*)
    val sb = sigs.select(col("doc_id").as("id_b") +:
      (0 until k).map(i => col(s"mh$i").as(s"b_mh$i")): _*)
    val out = pairs.join(sa, Seq("id_a")).join(sb, Seq("id_b"))
      .select(col("id_a"), col("id_b"), estJaccardExpr(k, "a_mh", "b_mh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize the (small, pairs-only) result so the corpus-sized
    // signature cache can be dropped NOW instead of lingering until the
    // ContextCleaner runs; the result's own cache is cleaner-released when
    // the returned frame becomes unreachable.
    out.count()
    sigs.unpersist()
    out
  }

  /** Train/test split LEAKAGE audit — MinHash near-dup candidate pairs
    * bucketed by which split sides they straddle: the contamination
    * check a hash split ([[Corpus.hashSplit]]) cannot make on its own
    * (a perfectly random split of a corpus with duplicates puts ~2pq
    * of every dup cluster ACROSS the train/test fence — the classic
    * leakage that inflates eval scores). One row per unordered
    * (split_a, split_b) class with the pair count and mean estimated
    * Jaccard; `crossing = true` rows are the leak surface.
    *
    * Exactness: pairs come from [[minhashCandidates]]'s banded join
    * (never all-pairs); `est_jaccard·k` recovers the exact integer
    * match count, so the mean is a pure integer `div`. Scale shape:
    * candidates-sized after the LSH join; the split map is a
    * byte-per-doc projection joined twice on the pair ids. Output:
    * `(split_a, split_b, crossing, n_pairs, mean_est_j_e6)`. */
  def splitLeakage(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 12, bands: Int = 6,
                   cuts: Seq[(String, Int)] = Seq(("train", 800),
                     ("val", 900), ("test", 1000))): DataFrame = {
    val pairs = minhashCandidates(docs, idCol, textCol, k, bands)
    val splits = graft.text.Corpus.hashSplit(
        docs.select(col(idCol)).filter(col(idCol).isNotNull), idCol, cuts)
      .select(col(idCol), col("split"))
    val a = splits.select(col(idCol).as("id_a"), col("split").as("__sa"))
    val b = splits.select(col(idCol).as("id_b"), col("split").as("__sb"))
    pairs
      .withColumn("__m", expr(s"cast(floor(est_jaccard * $k + 0.5) as bigint)"))
      .join(a, "id_a").join(b, "id_b")
      .withColumn("split_a", least(col("__sa"), col("__sb")))
      .withColumn("split_b", greatest(col("__sa"), col("__sb")))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("__m")).as("__sm"))
      .withColumn("crossing", col("split_a") =!= col("split_b"))
      .withColumn("mean_est_j_e6", expr(s"__sm * 1000000 div ($k * n_pairs)"))
      .drop("__sm")
  }

  /** CROSS-corpus MinHash+LSH candidates — fuzzy decontamination: the
    * near-dup analog of [[Corpus.contamination]]'s exact n-gram check,
    * flagging training documents that are near-duplicates of held-out
    * documents (paraphrased/partially-edited benchmark leakage that
    * exact n-grams miss). Output: (id_a from `corpus`, id_b from
    * `heldout`, est_jaccard), one row per colliding pair.
    *
    * Scale shape: the held-out side is benchmark-sized by contract, so
    * its banded keys AND full signatures broadcast; the corpus side is
    * one codegen'd signature pass (persisted once, read by the band
    * probe and the signature attach) — no corpus self-join, no
    * corpus-side pair blowup: candidates are bounded by |held-out|
    * bucket hits. */
  def minhashCandidatesCross(corpus: DataFrame, heldout: DataFrame,
                             idCol: String, textCol: String,
                             k: Int = 12, bands: Int = 6,
                             shingleK: Int = 3): DataFrame = {
    val corpSigs = corpus
      .select(col(idCol).as("id_a") +: minhashSigCols(col(textCol), k, shingleK): _*)
      .filter(col("mh0").isNotNull) // null text: see minhashCandidates
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    corpSigs.count() // materialize inside codegen (minhashCandidates' rationale)
    // the held side is read twice too (band probe + signature attach) —
    // cached so the shingle/md5 pass runs once
    val heldSigs = heldout
      .select(col(idCol).as("id_b") +: minhashSigCols(col(textCol), k, shingleK): _*)
      .toDF("id_b" +: (0 until k).map(i => s"h_mh$i"): _*)
      .filter(col("h_mh0").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    heldSigs.count()
    val corpBanded = corpSigs.select(col("id_a"), bandKeyExplode(k, bands, "mh"))
    val heldBanded = heldSigs.select(col("id_b"), bandKeyExplode(k, bands, "h_mh"))
    val pairs = corpBanded.join(broadcast(heldBanded), Seq("bkey"))
      .select(col("id_a"), col("id_b")).distinct()
    val out = pairs
      .join(corpSigs, Seq("id_a"))
      .join(broadcast(heldSigs), Seq("id_b"))
      .select(col("id_a"), col("id_b"), estJaccardExpr(k, "mh", "h_mh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count() // small (pairs only): lets the signature caches go now
    corpSigs.unpersist()
    heldSigs.unpersist()
    out
  }

  /** SimHash signature (`bits`-wide, default 16): per bit, majority vote of
    * token-hash bits. Near-dups have small Hamming distance. Single-pass
    * JVM implementation ([[TextHash.simhash]]). */
  def simhash(text: Column, bits: Int = 16): Column = TextHash.simhashCol(text, bits)

  /** SimHash near-dup candidate pairs via the pivoted-band trick: split
    * the `bits`-wide signature into `bands` equal chunks and self-join on
    * band equality — by pigeonhole, every pair with Hamming distance
    * ≤ bands-1 shares at least one intact band, so candidates with
    * `maxHamming` ≤ bands-1 are captured at FULL recall without an
    * all-pairs stage. Exact Hamming (bit_count of xor) filters candidates.
    * Output: (id_a, id_b, hamming). At corpus scale, widen the signature
    * (bits = 60 — the max the oracle-portable hash60 vote source
    * supports, see [[TextHash.simhash]]; q393 is the measured wide
    * member) and keep band width ≥ 8 bits so band buckets stay sparse.
    * Caveat the r17 probe measured: bucket sparsity also needs the
    * METRIC to have signal — a corpus of near-identical token
    * DISTRIBUTIONS (tiny shared vocabulary) collapses most docs
    * into genuinely hamming-close signatures, and then
    * candidate mass is true-pair mass, which no banding can cut; dedup
    * such data by minhash/n-gram content measures instead. */
  def simhashCandidates(docs: DataFrame, idCol: String, textCol: String,
                        bits: Int = 16, bands: Int = 4, maxHamming: Int = 3): DataFrame =
    hammingCandidates(
      docs.select(col(idCol).as("doc_id"), simhash(col(textCol), bits).as("sig")),
      "doc_id", "sig", bits, bands, maxHamming)

  /** Banded Hamming self-join over PRECOMPUTED long signatures — the
    * engine under [[simhashCandidates]], public because any 64-bit
    * locality-preserving signature dedups the same way (SimHash text
    * signatures, dHash image signatures, SRP embedding signs). Split
    * each signature into `bands` equal chunks, self-join on band
    * equality — by pigeonhole, every pair within Hamming distance
    * bands−1 shares an intact band, so `maxHamming` ≤ bands−1 keeps
    * FULL recall with no all-pairs stage — then filter candidates by
    * exact `bit_count(xor)`. Output: (id_a, id_b, hamming). */
  def hammingCandidates(sigDf: DataFrame, idCol: String, sigCol: String,
                        bits: Int, bands: Int = 4, maxHamming: Int = 3): DataFrame = {
    require(bits % bands == 0, s"bands ($bands) must divide bits ($bits)")
    require(bits <= 64, s"bits ($bits) must fit one long")
    require(maxHamming <= bands - 1,
      s"full recall needs maxHamming ($maxHamming) <= bands-1 (${bands - 1})")
    val bw = bits / bands
    // persist + eager count: same self-join double-compute discipline as
    // minhashCandidates
    val sigs = sigDf
      .select(col(idCol).as("doc_id"), col(sigCol).as("sig"))
      .filter(col("sig").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sigs.count()
    // (band, value) struct key: an arithmetic band-index offset would
    // overflow at bits=64 (1L<<64 == 1), and arithmetic shiftright of a
    // negative full-width sig yields sign-extended band values — so extract
    // with UNSIGNED shift + mask and keep the band index as its own field.
    val mask = if (bw == 64) lit(-1L) else lit((1L << bw) - 1)
    val banded = sigs.select(col("doc_id"), col("sig"),
      explode(array((0 until bands).map(b => struct(lit(b).as("band"),
        shiftrightunsigned(col("sig"), b * bw).bitwiseAND(mask).as("value"))): _*)).as("bkey"))
    val pairs = banded.as("a").join(banded.as("b"),
        col("a.bkey") === col("b.bkey") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize the (small, id-only) pair set so the signature cache can
    // be dropped NOW — a long-lived session running many dedup passes would
    // otherwise accumulate corpus-sized cached blocks until ContextCleaner
    // happens to collect them. The pair cache itself is released by the
    // cleaner when the returned frame becomes unreachable.
    pairs.count()
    sigs.unpersist()
    pairs
  }

  /** Expression-tree form of [[simhash]] — parity-spec reference only
    * (interpreted + bits-times redundant). */
  private[text] def simhashExpr(text: Column, bits: Int = 16): Column = {
    val hs = transform(Cols.tokens(text), t => Cols.hash32(t))
    (0 until bits).map { i =>
      val votes = aggregate(hs, lit(0L),
        (acc, h) => acc + when(shiftright(h, i) % 2 === 1, 1L).otherwise(-1L))
      when(votes > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Directional token-set CONTAINMENT (Broder 1997's other resemblance
    * measure): `cont(a→b) = |Sₐ ∩ S_b| / |Sₐ|` — the fraction of a's
    * distinct tokens that also appear in b. Jaccard misses SUBSET
    * duplicates by construction (a quote embedded in a 100× longer doc
    * has Jaccard ≈ |a|/|b| ≈ 0.01 but containment(a→b) = 1); this is the
    * detector for "document swallowed by another", the common shape of
    * boilerplate-wrapped or concatenated training text.
    *
    * Same banded candidate generation as [[ngramJaccard]] (id-gap
    * buckets bound the per-token match lists; at scale the candidates
    * come from [[minhashCandidates]]), same exact distinct-token
    * intersection count. The threshold test is an integer
    * cross-multiplication on the LARGER direction (`n_inter·10⁶ ≥
    * thresholdE6·min(n_a,n_b)` — the max of the two containments has the
    * smaller denominator), and both directions are emitted as exact
    * integer `⌊n_inter·10⁶ / n⌋` — no float in the decision path.
    *
    * Output: `(id_a, id_b, n_inter, n_a, n_b, cont_a_e6, cont_b_e6)`. */
  def tokenContainment(docs: DataFrame, idCol: String, textCol: String,
                       maxIdGap: Long, thresholdE6: Long): DataFrame = {
    require(thresholdE6 >= 0 && thresholdE6 <= 1000000,
      s"thresholdE6 must be in [0, 1e6], got $thresholdE6")
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(array_distinct(Cols.tokens(col(textCol)))).as("tok"))
    val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("n_tok"))
    val a = toks
      .withColumn("bucket", explode(array(
        floor(col("doc_id") / maxIdGap), floor(col("doc_id") / maxIdGap) + 1)))
    val b = toks.withColumn("bucket", floor(col("doc_id") / maxIdGap))
    val inter = a.as("a").join(b.as("b"),
        col("a.tok") === col("b.tok") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("b.doc_id") - col("a.doc_id") <= maxIdGap)
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.withColumnsRenamed(Map("doc_id" -> "id_a", "n_tok" -> "n_a")), Seq("id_a"))
      .join(sizes.withColumnsRenamed(Map("doc_id" -> "id_b", "n_tok" -> "n_b")), Seq("id_b"))
      .filter(col("n_inter") * 1000000L >= lit(thresholdE6) * least(col("n_a"), col("n_b")))
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_a"), col("n_b"),
        expr("n_inter * 1000000 div n_a").as("cont_a_e6"),
        expr("n_inter * 1000000 div n_b").as("cont_b_e6"))
  }

  /** Exact token-set Jaccard for candidate pairs within `band`-bounded id
    * distance (banded candidate generation keeps the join linear; at scale
    * the candidates come from [[minhashCandidates]] instead). */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String,
                   maxIdGap: Long, threshold: Double): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(array_distinct(Cols.tokens(col(textCol)))).as("tok"))
    val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("n_tok"))
    // Bucketed band join: joining on `tok` alone explodes on high-doc-freq
    // tokens (probe cost Σ df² — ~450M pair probes on the test corpus's
    // 31-token vocabulary, and unbounded skew at 100 TB). Since a valid
    // pair satisfies 0 < id_b − id_a ≤ gap, id_b's bucket (⌊id/gap⌋) is
    // id_a's bucket or the one after it — so join on (tok, bucket), with
    // the left side exploded to both buckets. Each (a,b,tok) match is
    // found exactly once; per-key match lists are bounded by docs-per-gap
    // instead of corpus doc-frequency.
    val a = toks
      .withColumn("bucket", explode(array(
        floor(col("doc_id") / maxIdGap), floor(col("doc_id") / maxIdGap) + 1)))
    val b = toks.withColumn("bucket", floor(col("doc_id") / maxIdGap))
    val inter = a.as("a").join(b.as("b"),
        col("a.tok") === col("b.tok") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("b.doc_id") - col("a.doc_id") <= maxIdGap)
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.withColumnsRenamed(Map("doc_id" -> "id_a", "n_tok" -> "n_a")), Seq("id_a"))
      .join(sizes.withColumnsRenamed(Map("doc_id" -> "id_b", "n_tok" -> "n_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** EXACT all-pairs token-set Jaccard join, COMPLETE at the threshold —
    * no id-gap restriction ([[ngramJaccard]]'s demo dial) and no LSH
    * probability ([[minhashCandidates]]): the third point of the exact/
    * approximate design space, sub-quadratic on realistic (Zipf-tailed)
    * vocabularies. AllPairs/PPJoin PREFIX FILTERING (Bayardo et al.
    * WWW'07; Vernica et al. SIGMOD'10 for the distributed shape): order
    * every document's distinct-token set by GLOBAL ascending document
    * frequency (ties by token); a pair with `J ≥ t` has overlap
    * `≥ ⌈t·max(n_a,n_b)⌉` (via the size filter `t·max ≤ min`), so each
    * side's first `n − ⌈t·n⌉ + 1` rarest tokens must intersect —
    * candidates are rare-token collisions, Σ prefix-df², never a fixed
    * block. Verification is one `array_intersect` per DISTINCT candidate
    * pair over the sorted token arrays; the accept test is the integer
    * cross-multiplication `inter·(10⁶ + tE6) ≥ tE6·(n_a + n_b)`
    * (⟺ inter/(union) ≥ tE6/10⁶ exactly — no float in the decision),
    * mirroring [[tokenContainment]]'s thresholdE6 convention.
    *
    * Output: (id_a, id_b, n_inter, n_a, n_b, jaccard_e6 =
    * ⌊inter·10⁶/union⌋). Empty token sets never pair (0/0 excluded).
    * Caveat shared with every content-similarity operator here: a
    * corpus of near-identical vocabularies (the testdata generator's
    * ~31 tokens) has intrinsically quadratic TRUE-pair mass at low
    * thresholds — the threshold is the output dial, not the algorithm's.
    *
    * Scale shape: one token scan, one map-side-combined df aggregate,
    * per-doc sort of ~dozens of tokens, rare-token equi-join, per-pair
    * O(n_a + n_b) verify — all shuffle-bounded by candidate count, with
    * the explosive-join repartition before the verify kernel. */
  def jaccardJoinComplete(docs: DataFrame, idCol: String, textCol: String,
                          thresholdE6: Long): DataFrame = {
    require(thresholdE6 > 0 && thresholdE6 <= 1000000,
      s"thresholdE6 must be in (0, 1000000], got $thresholdE6")
    val spark = docs.sparkSession
    val par = spark.sparkContext.defaultParallelism * 2
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(array_distinct(Cols.tokens(col(textCol)))).as("tok"))
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    // per-doc tokens in ascending global (df, tok) order + the size;
    // persisted: read once for prefixes and once per side of the verify
    val sorted = toks.join(dfreq, Seq("tok"))
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("df"), col("tok")))).as("st"))
      .select(col("doc_id"), expr("transform(st, s -> s.tok)").as("toks"),
        size(col("st")).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sorted.count()
    // prefix = n − ⌈t·n⌉ + 1 rarest tokens (integer ceil), with the
    // token's position for the PPJoin positional filter below
    val pre = sorted.select(col("doc_id"), col("n"),
      expr(s"slice(toks, 1, n - cast(($thresholdE6 * n + 999999) div 1000000 as int) + 1)")
        .as("pref"))
    val keys = pre.select(col("doc_id"), col("n"),
      posexplode(col("pref")).as(Seq("pos", "tok")))
    val cand = keys.as("a").join(keys.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id") &&
          least(col("a.n"), col("b.n")) * 1000000L >=
            lit(thresholdE6) * greatest(col("a.n"), col("b.n")) &&
          // PPJoin positional filter: at the pair's FIRST shared prefix
          // position no common token precedes it on either side, so
          // overlap ≤ 1 + min(remaining-after) — emissions failing the
          // bound drop, and a valid pair always survives via its
          // first-match emission (whose bound dominates true overlap);
          // ubound·(10⁶+tE6) ≥ tE6·(n_a+n_b) ⟺ ubound ≥ ⌈t/(1+t)·Σn⌉
          (lit(1L) + least(col("a.n") - col("a.pos") - 1,
            col("b.n") - col("b.pos") - 1)) * (1000000L + thresholdE6) >=
            lit(thresholdE6) * (col("a.n") + col("b.n")))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
      .repartition(par) // byEditDistance's explosive-join rationale
    val out = cand
      .join(sorted.select(col("doc_id").as("id_a"), col("toks").as("ta"),
        col("n").as("n_a")), Seq("id_a"))
      .join(sorted.select(col("doc_id").as("id_b"), col("toks").as("tb"),
        col("n").as("n_b")), Seq("id_b"))
      .withColumn("n_inter", size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .filter(col("n_inter") * (1000000L + thresholdE6) >=
        lit(thresholdE6) * (col("n_a") + col("n_b")))
      .select(col("id_a"), col("id_b"), col("n_inter"),
        col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"),
        expr("n_inter * 1000000 div (n_a + n_b - n_inter)").as("jaccard_e6"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count() // small (pairs only): lets the token-array cache go
    sorted.unpersist()
    out
  }

  /** Cross-corpus duplicated n-gram coverage — the detection half of
    * exact-substring dedup (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better": substrings repeated verbatim anywhere
    * in the corpus are memorization fuel). For every document: how many of
    * its token positions are covered by an `n`-gram that occurs at least
    * `minCount` times corpus-wide (including within the same document).
    *
    * Shape at scale: the gram kernel emits 60-bit gram hashes with
    * positions (never gram text — the shuffle is (hash, pos) pairs; the
    * kernel runs once per side of the count join, see [[dupStarts]]), one
    * map-side-combinable count over hashes, one equi-join back, and one per-doc
    * window that unions overlapping [pos, pos+n) intervals analytically
    * (`min(n, pos - lag(pos))`) instead of exploding the n covered
    * positions per gram. No O(n²) stage; the heaviest key is the most
    * frequent gram, which the count aggregate absorbs map-side.
    *
    * Output: (id, n_tokens, dup_grams, covered_tokens, dup_frac) — feed
    * `dup_frac >= cut` to a filter for the dedup decision, or the interval
    * bounds to a span-cutter for surgical removal. */
  def dupNgramCoverage(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, minCount: Long = 2L): DataFrame = {
    require(n >= 1, s"n-gram width must be >= 1, got $n")
    val base = docs.select(col(idCol).as("doc_id"),
      // tokenize-empty convention: blank AND null text -> 0 tokens
      // (too-short docs have 0 grams either way)
      coalesce(TextAnalysis.tokenCount(col(textCol)), lit(0)).as("n_tokens"))
    // interval union per doc: consecutive duplicated starts s_{i-1} < s_i
    // overlap when s_i - s_{i-1} < n; each start adds min(n, gap) tokens
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val perDoc = dupStarts(docs, idCol, textCol, n, minCount)
      .withColumn("gap", col("pos") - lag(col("pos"), 1).over(w))
      .withColumn("add", when(col("gap").isNull, lit(n)).otherwise(least(lit(n), col("gap"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("dup_grams"), sum("add").as("covered_tokens"))
    base.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_grams"), lit(0L)).as("dup_grams"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(coalesce(col("covered_tokens"), lit(0L)).cast("double") / col("n_tokens"))
          .as("dup_frac"))
  }

  /** Start positions of corpus-duplicated n-grams: (doc_id, pos). Shared
    * detection stage of [[dupNgramCoverage]] and [[removeDupSpans]].
    *
    * The shingle-hash kernel runs TWICE — once per side of the
    * count-then-join-back (the aggregate branch and the probe branch are
    * independent evaluations of `grams`). Deliberate: recomputing md5
    * grams is cheaper than persisting or shuffling the exploded gram
    * stream at corpus scale — the aggregate side map-combines to distinct
    * hashes before its (narrow) shuffle, and the probe side typically
    * joins against a broadcast of the (small) duplicated-hash set, so the
    * full-width (doc_id, pos, gh) stream never crosses the wire at all. */
  private def dupStarts(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, minCount: Long): DataFrame = {
    val grams = docs.select(col(idCol).as("doc_id"),
      posexplode(TextHash.shingleHash60sCol(col(textCol), n)).as(Seq("pos", "gh")))
    val dupGrams = grams.groupBy("gh").agg(count(lit(1)).as("gc"))
      .filter(col("gc") >= minCount)
      .select("gh")
    grams.join(dupGrams, Seq("gh")).select("doc_id", "pos")
  }

  /** The removal half of exact-substring dedup: cut every token covered by
    * a corpus-duplicated `n`-gram out of the document (Lee et al. 2022
    * excise the repeated span itself, not the whole document — exact-dup
    * boilerplate disappears while the unique remainder survives).
    *
    * Duplicated starts are merged into disjoint [s, e] token intervals
    * with one per-doc window + aggregate (interval count is bounded by
    * n_tokens/1 but in practice tiny), collected per doc, and a single
    * rebuild UDF walks tokens once against the sorted interval list. The
    * heavy corpus never shuffles: detection moves (hash, pos) pairs, and
    * the rebuild joins interval lists (small) onto the doc scan.
    * Rebuilt text is single-space joined — the tokenizer's whitespace
    * normalization, same convention as [[lineDedup]]'s '\n' rebuild.
    *
    * Output: (doc_id, n_removed, text_clean); null text stays null. */
  def removeDupSpans(docs: DataFrame, idCol: String, textCol: String,
                     n: Int, minCount: Long = 2L): DataFrame = {
    require(n >= 1, s"n-gram width must be >= 1, got $n")
    exciseByStarts(docs, idCol, textCol, dupStarts(docs, idCol, textCol, n, minCount), n)
  }

  /** Cross-corpus span excision — the decontamination EXCISION tier
    * completing the trilogy's removal half: where [[removeDupSpans]]
    * cuts spans duplicated WITHIN the corpus, this cuts spans whose
    * `n`-grams appear anywhere in a held-out set (benchmark test sets,
    * eval suites) — the Lee et al. machinery pointed across corpora,
    * so a contaminated paragraph disappears while the rest of the
    * document survives (doc-level decontamination q71/q109 would drop
    * the whole document).
    *
    * Scale shape: the held-out side reduces to DISTINCT gram hashes
    * (benchmark-sized — broadcasts), the corpus side streams its grams
    * past that set once; only (doc_id, pos) hits shuffle into the
    * per-doc interval merge. Corpus text never crosses the wire. */
  def removeContaminatedSpans(corpus: DataFrame, heldOut: DataFrame,
                              idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 1, s"n-gram width must be >= 1, got $n")
    val cGrams = corpus.select(col(idCol).as("doc_id"),
      posexplode(TextHash.shingleHash60sCol(col(textCol), n)).as(Seq("pos", "gh")))
    val hGrams = heldOut
      .select(explode(TextHash.shingleHash60sCol(col(textCol), n)).as("gh"))
      .distinct()
    val starts = cGrams.join(hGrams, Seq("gh")).select("doc_id", "pos")
    exciseByStarts(corpus, idCol, textCol, starts, n)
  }

  /** Shared excision stage of [[removeDupSpans]] and
    * [[removeContaminatedSpans]]: merge start positions into disjoint
    * token intervals and rebuild each document without them. */
  private def exciseByStarts(docs: DataFrame, idCol: String, textCol: String,
                             starts: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    // merge overlapping spans: a start further than n-1 past its
    // predecessor opens a new interval; running flag-sum numbers them
    val spans = starts
      .withColumn("gap", col("pos") - lag(col("pos"), 1).over(w))
      .withColumn("new_ivl", when(col("gap").isNull || col("gap") >= n, 1).otherwise(0))
      .withColumn("ivl", sum("new_ivl").over(w))
      .groupBy("doc_id", "ivl")
      .agg(min("pos").as("s"), (max("pos") + n - 1).as("e"))
      .groupBy("doc_id")
      // disjoint intervals sorted by start also sort by end, so the two
      // independently-sorted arrays stay aligned
      .agg(sort_array(collect_list(col("s"))).as("ss"),
        sort_array(collect_list(col("e"))).as("es"),
        sum(col("e") - col("s") + 1).as("n_removed"))
    val rebuild = udf((text: String, ss: Seq[Long], es: Seq[Long]) => {
      if (text == null) null
      else {
        val starts = if (ss == null) Seq.empty else ss
        val ends = if (es == null) Seq.empty else es
        val toks = TextHash.tokenize(text)
        val sb = new java.lang.StringBuilder
        var k = 0
        var i = 0
        // separator on every kept token after the FIRST (not on non-empty
        // sb): a leading-tab doc tokenizes to a leading EMPTY token, and
        // string_agg-style joining must still put a space after it —
        // `sb.length > 0` would silently swallow that space and diverge
        // from the q100 oracle
        var first = true
        while (i < toks.length) {
          while (k < starts.length && i > ends(k)) k += 1
          val drop = k < starts.length && i >= starts(k) && i <= ends(k)
          if (!drop) {
            if (!first) sb.append(' ')
            sb.append(toks(i))
            first = false
          }
          i += 1
        }
        sb.toString
      }
    })
    docs.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        rebuild(col("__text"), col("ss"), col("es")).as("text_clean"))
  }

  /** Driver-side union-find with path compression; union-by-MIN-root, so
    * each set's root is its minimum id and `find` returns the same
    * `component` the distributed min-label loop produces. */
  private[text] def unionFind(edges: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keysIterator.map(k => k -> find(k)).toMap
  }

  /** Connected components over an undirected edge list.
    *
    * Two regimes, same output contract (the BPE work-split discipline —
    * distribute the corpus-sized pass, not state that fits one JVM):
    *
    *  - Edge sets up to `driverMaxEdges` (the overwhelmingly common case:
    *    dedup candidate pairs are ≪ corpus) collect to the driver and run
    *    union-find with path compression — microseconds of CPU, ZERO
    *    shuffle rounds, where the distributed loop pays several multi-stage
    *    jobs of mostly-empty tasks just to confirm convergence.
    *  - Larger edge sets run min-label propagation with pointer jumping:
    *    every node starts labeled with its own id; each round a node
    *    adopts the minimum label among itself and its neighbors, then
    *    follows its label's label one hop — fixpoint in O(log diameter)
    *    rounds. Each round is two shuffle joins + one aggregate — no
    *    driver-side graph — so the iteration count, not the data volume,
    *    is the only scale bound (and near-dup clusters are shallow).
    *    Each round persists its label frame and unpersists the previous
    *    one (iterative lineage would otherwise recompute every prior
    *    round per action).
    *
    * Output: (id, component) for every node that appears in an edge;
    * `component` = the minimum node id in the component. `driverMaxEdges`
    * is the regime threshold (0 forces the distributed path). */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIters: Int = 25,
                          driverMaxEdges: Long = 2000000L): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val eDistinct = e.distinct().persist(lvl)
    val nEdges = eDistinct.count()
    if (nEdges <= driverMaxEdges) {
      val spark = edges.sparkSession
      val out = unionFind(eDistinct.collect().map(r => (r.getLong(0), r.getLong(1))))
      eDistinct.unpersist()
      import spark.implicits._
      return out.toSeq.sortBy(_._1).toDF("id", "component")
    }
    val sym = eDistinct
      .union(eDistinct.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().persist(lvl)
    eDistinct.unpersist()
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("component", col("id")).persist(lvl)
    // Convergence signal: min-propagation is monotone (labels only ever
    // decrease), so Σ component strictly decreases until the fixpoint —
    // one scalar aggregate per round replaces a separate
    // changed-rows join, and the same action materializes the round's
    // persist. Sums of ids fit a long far beyond any realistic pair set,
    // but sum as decimal to be overflow-proof.
    // Option-guard: sum over an EMPTY frame is SQL NULL (getDecimal returns
    // null) — an empty edge set (clean corpus) is a valid input and must
    // converge on the first round, not NPE in compareTo.
    def labelSum(df: org.apache.spark.sql.DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("component").cast("decimal(38,0)"))).head.getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    var prevSum = labelSum(labels)
    var it = 0
    var converged = false
    val spark = edges.sparkSession
    while (!converged && it < maxIters) {
      val viaNeighbor = sym.join(labels, sym("dst") === labels("id"))
        .select(sym("src").as("id"), col("component"))
      val stepped = labels.select("id", "component").unionByName(viaNeighbor)
        .groupBy("id").agg(min(col("component")).as("component"))
        .persist(lvl)
      // pointer jumping: follow the label's own label (comp(comp(v)) ≤
      // comp(v) since comp(u) ≤ u is a loop invariant) — chains collapse
      // in O(log diameter) rounds instead of O(diameter). `stepped` is
      // persisted because the self-join reads it twice.
      val hop = stepped.select(col("id").as("__lid"), col("component").as("__lcomp"))
      val nextPlan = stepped.join(hop, stepped("component") === hop("__lid"), "left")
        .select(stepped("id"),
          coalesce(col("__lcomp"), stepped("component")).as("component"))
      // RDD barrier (the Pregel-on-DataFrames discipline): re-root each
      // round on an opaque RDD scan so the next round's plan cannot reach
      // back through the self-join lineage — self-join attribute
      // deduplication defeats cache plan-matching, and a cache miss here
      // recomputes every prior round with ~3x branching (measured
      // 1.2s → 4.8s → 90s per round before the barrier). The frames are
      // id-pair sized, so the non-codegen RDD hop costs nothing.
      val next = spark.createDataFrame(nextPlan.rdd, nextPlan.schema).persist(lvl)
      val nextSum = labelSum(next)
      stepped.unpersist()
      labels.unpersist()
      labels = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      it += 1
    }
    sym.unpersist()
    labels
  }

  /** End-to-end duplicate-cluster resolution — the operator that turns
    * candidate PAIRS into a dedup DECISION: MinHash+LSH candidates
    * ([[minhashCandidates]]) filtered to `minEst`, clustered with
    * [[connectedComponents]] (near-dup similarity is not transitive at
    * the pair level; the component is the dedup unit), keyed by the
    * minimum doc id. Output: (doc_id, cluster_id) for every document in
    * at least one qualifying pair — documents absent from the output are
    * unique; anti-join + keep `doc_id == cluster_id` representatives
    * yields the deduplicated corpus. */
  def duplicateClusters(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 12, bands: Int = 6, shingleK: Int = 3,
                        minEst: Double = 0.5): DataFrame = {
    val cand = minhashCandidates(docs, idCol, textCol, k, bands, shingleK)
    val labels = connectedComponents(
      cand.filter(col("est_jaccard") >= minEst), "id_a", "id_b")
    // connectedComponents materialized its final label frame (the in-loop
    // labelSum action), so the candidate-pair cache can be dropped NOW
    // instead of waiting on ContextCleaner reachability — a long-lived
    // session running many dedup passes would otherwise accumulate them.
    cand.unpersist()
    labels.select(col("id").as("doc_id"), col("component").as("cluster_id"))
  }

  /** Duplicate-cluster SIZE SPECTRUM — the one-page dedup report: how
    * many clusters of each size, and what share of the corpus sits in
    * them (singletons included via `coalesce(cluster_id, id)`). The
    * shape IS the diagnosis: a healthy crawl is ~all size-1 with a thin
    * geometric tail; a fat size-2 band means mirrored hosts, one giant
    * cluster means a template page — and the spectrum says how much the
    * finisher ([[dedupBest]]-style keep-one) will actually delete,
    * BEFORE anyone runs it.
    *
    * Exactness: pure integer counts and permille `div`s over
    * [[duplicateClusters]]' deterministic min-label components. Scale
    * shape: the label frame holds only paired docs (corpus joins back
    * once); everything after the size aggregate is spectrum-sized.
    * Output: `(cluster_size, n_clusters, n_docs, doc_share_pm)`. */
  def dupClusterSpectrum(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 12, bands: Int = 6,
                         minEst: Double = 0.5): DataFrame = {
    val labels = duplicateClusters(docs, idCol, textCol, k, bands,
      minEst = minEst)
    val assigned = docs.filter(col(idCol).isNotNull)
      .select(col(idCol).as("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("__cl", coalesce(col("cluster_id"), col("doc_id")))
    val sizes = assigned.groupBy(col("__cl"))
      .agg(count(lit(1)).as("cluster_size"))
    val spectrum = sizes.groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
    val total = spectrum.agg(sum(col("n_docs")).as("__t"))
    spectrum.crossJoin(broadcast(total))
      .withColumn("doc_share_pm", expr("n_docs * 1000 div __t"))
      .drop("__t")
  }

  /** Dedup FINISHER: duplicate clusters resolved to one representative
    * each, chosen by QUALITY rather than [[duplicateClusters]]'s min-id
    * convention — the industry-standard "keep the best copy" rule (e.g.
    * longest document wins, ties to the smallest id). `scoreCol` names a
    * numeric column the caller has already computed (token count, quality
    * score, …) so the scorer stays decoupled from the cluster machinery.
    *
    * Shape at scale: the label frame from [[duplicateClusters]] holds only
    * documents in ≥1 qualifying pair (normally a small fraction of the
    * corpus) and joins back on the id; unlabelled documents are their own
    * singleton cluster (`coalesce(cluster_id, id)`). One window shuffle
    * keyed by cluster_id picks the argmax — cluster sizes are data-bounded
    * by the LSH band structure, so no hot key.
    * Output: (id, cluster_id, n_members, score) of the representatives —
    * exactly one row per cluster, singletons included. */
  def dedupByQuality(docs: DataFrame, idCol: String, textCol: String,
                     scoreCol: String,
                     k: Int = 12, bands: Int = 6, shingleK: Int = 3,
                     minEst: Double = 0.5): DataFrame = {
    val labels = duplicateClusters(docs, idCol, textCol, k, bands, shingleK, minEst)
      .withColumnRenamed("doc_id", idCol)
    val lab = docs.select(col(idCol), col(scoreCol))
      .join(labels, Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
    val byCluster = Window.partitionBy("cluster_id")
    val best = Window.partitionBy("cluster_id")
      .orderBy(col(scoreCol).desc, col(idCol))
    lab.withColumn("__rn", row_number().over(best))
      .withColumn("n_members", count(lit(1)).over(byCluster))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("cluster_id"), col("n_members"), col(scoreCol))
  }

  /** Corpus-wide line-level dedup (the CCNet/RefinedWeb paragraph-dedup
    * shape): boilerplate lines repeated across documents (nav bars,
    * licence headers, quoted chunks) are kept only at their globally first
    * occurrence — ordered by (docId, line position) — and dropped
    * everywhere else; empty lines are dropped outright. Output per input
    * document: (id, n_lines, n_kept, text_dedup) with the surviving lines
    * re-joined by '\n' in original order (empty string when nothing
    * survives — the row is kept so the corpus keeps its doc count).
    *
    * Shape at scale: posexplode → one window shuffle keyed by the LINE
    * CONTENT (not a digest: a digest collision would silently merge two
    * distinct lines; the line must cross the shuffle anyway to be
    * re-emitted) → one groupBy(id) to reassemble. First-occurrence choice
    * is min(struct(id, pos)) over a window. NOTE: WindowExec does NO
    * map-side partial aggregation — every occurrence of a line lands in
    * one task's sort buffer, so a truly degenerate boilerplate line
    * (billions of copies) is a single-task hot key. Pre-filter such lines
    * with [[graft.operators.Skew.heavyHitters]] into a stop-line list (a
    * groupBy(line).agg(min(...)) + join-back would get partial
    * aggregation, at the cost of shuffling the line text twice). */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = docs
      .select(col(idCol), posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .filter(length(col("line")) > 0)
    val w = Window.partitionBy("line")
    val kept = lines
      .withColumn("__first", min(struct(col(idCol), col("pos"))).over(w))
      .withColumn("__keep", struct(col(idCol), col("pos")) === col("__first"))
    val stats = kept.groupBy(idCol).agg(
      count(lit(1)).as("n_lines"),
      sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
      concat_ws("\n",
        transform(
          array_sort(collect_list(when(col("__keep"), struct(col("pos"), col("line"))))),
          s => s.getField("line"))).as("text_dedup"))
    // left join back: documents whose every line was dropped (or whose
    // text had no non-empty lines) must still appear
    docs.select(col(idCol)).join(stats, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  /** Boilerplate line STRIP by document frequency — the other half of the
    * CCNet line policy: where [[lineDedup]] keeps a repeated line's first
    * occurrence, this removes a line from EVERY document once it appears
    * in more than `maxPermille`‰ of a group's documents (nav bars, cookie
    * banners, licence footers — content that frequent is template, not
    * text; its "first occurrence" is no more meaningful than the rest).
    * Frequency is per `groupCol` (site/domain/source): a line can be
    * boilerplate on one site and legitimate quotation elsewhere.
    *
    * The threshold is an integer permille compared by cross-multiplication
    * (`n_docs_with_line · 1000 > maxPermille · n_docs_in_group`) — no
    * float ratio, so engine-exact. A line repeated WITHIN one document
    * counts that document once (DISTINCT doc before the count), and a
    * line must appear in at least `minDocs` documents to qualify at all:
    * without that floor, every line of a small group clears any ratio
    * (a 1-doc group is 100% df for ALL its lines) and the group strips
    * to nothing.
    *
    * Shape at scale: one explode → per-(group, line) distinct-doc count
    * (the distinct rides the aggregate's Expand, map-side combined) →
    * the boilerplate set is template-sized, so the strip join broadcasts;
    * document text shuffles only for its own reassembly, same as
    * [[lineDedup]]. Output: (id, group, n_lines, n_kept, text_clean),
    * every input doc present. */
  def stripBoilerplate(docs: DataFrame, idCol: String, textCol: String,
                       groupCol: String, maxPermille: Int,
                       minDocs: Int = 2): DataFrame = {
    require(maxPermille >= 0 && maxPermille <= 1000,
      s"maxPermille must be in [0, 1000], got $maxPermille")
    require(minDocs >= 1, s"minDocs must be >= 1, got $minDocs")
    val lines = docs
      .select(col(idCol), col(groupCol),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .filter(length(col("line")) > 0)
    val groupSizes = docs.groupBy(col(groupCol))
      .agg(count(lit(1)).as("__n_docs"))
    val boiler = lines
      .groupBy(col(groupCol), col("line"))
      .agg(count_distinct(col(idCol)).as("__df"))
      .join(groupSizes, Seq(groupCol))
      .filter(col("__df") >= minDocs &&
        col("__df") * 1000 > lit(maxPermille) * col("__n_docs"))
      .select(col(groupCol), col("line"))
    val kept = lines.join(broadcast(boiler.withColumn("__boiler", lit(true))),
        Seq(groupCol, "line"), "left")
    // stats re-join is on idCol ALONE: a NULL groupCol never matches a
    // null-safe-less join key, which would silently zero out a real
    // document's stats — the group is carried by the docs side instead
    val stats = kept.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_lines"),
      sum(when(col("__boiler").isNull, 1L).otherwise(0L)).as("n_kept"),
      concat_ws("\n",
        transform(
          array_sort(collect_list(when(col("__boiler").isNull,
            struct(col("pos"), col("line"))))),
          s => s.getField("line"))).as("text_clean"))
    docs.select(col(idCol), col(groupCol)).join(stats, Seq(idCol), "left")
      .select(col(idCol), col(groupCol),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }
}
