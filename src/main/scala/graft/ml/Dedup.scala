package graft.ml

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.CollationSupport
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Checkpoint
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Scale design: exact dedup is one hash-partitioned shuffle on a digest
  * (never on the full text — at 100 TB you shuffle 32-byte keys, not
  * documents). Near-dup (MinHash/SimHash) follows the standard
  * shingle → signature → band-bucket shape: candidates come from a
  * shuffle on small band keys, and the expensive Jaccard verification runs
  * only on candidate pairs. Everything up to the band shuffle is per-row
  * work that stays in its partition.
  *
  * Reference anchors: `dedupe` processor (internal/impl/pure/
  * processor_dedupe.go:20-31) is the exact-key flavor; near-dup extends it
  * per the north-star LLM-pipeline requirements.
  */
object Dedup {

  /** Tokenize + lowercase. `\p{L}\p{N}` keeps unicode letters/digits. */
  def tokens(text: Column): Column =
    // array_remove(…, ""), not filter(…, length > 0): the split can only
    // produce EMPTY strings as non-tokens (leading/trailing separators),
    // so removing "" is the same rule — and ArrayRemove is a plain codegen
    // expression where the filter lambda is a CodegenFallback
    // HigherOrderFunction evaluated interpreted per element on EVERY
    // tokenize in the repo (r20; value-identity spec-pinned in MlSpec)
    array_remove(split(lower(text), "[^\\p{L}\\p{N}]+"), "")

  /** Word n-gram shingles as an array<string>. */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = tokens(text)
    when(size(toks) < n, array(array_join(toks, " ")))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + 1, lit(n)), " ")))
  }

  /** Distinct shingle hash set (array<long>) — the MinHash input.
    * Tokens are hashed ONCE (xxhash64 per token), then each n-gram hashes
    * the n token-hashes numerically — no per-shingle string concatenation
    * (the array_join-per-shingle form spends most of its time building
    * throwaway strings; hashing longs is ~4× faster at bench scale and
    * Jaccard over hashed n-grams is equivalent modulo negligible
    * collisions). */
  def shingleHashes(text: Column, n: Int = 3): Column = {
    val th = transform(tokens(text), t => xxhash64(t))
    array_distinct(
      when(size(th) < n, array(xxhash64(th))).otherwise(chainedXxhash(th, n)))
  }

  /** w-token window digests over a token-hash array — ONE tight JVM loop
    * per row (r20). The previous pure-Column form was w-1 chained
    * `zip_with(a, b, xxhash64)` nodes: every HigherOrderFunction is
    * CodegenFallback, so each of the w-1 rounds was evaluated interpreted,
    * per element, with a fresh ArrayData allocation — for dup-span
    * windowing (w = 15) that made the digest kernel the dup_spans family's
    * dominant per-row CPU (r20 probe receipt). Digest values are
    * BIT-IDENTICAL to the Column form: the loop replays XxHash64's
    * two-arg chaining — `xxhash64(x, y) = hashLong(y, hashLong(x, 42))` —
    * through the same catalyst XXH64 kernel; equality with the Column
    * form (chained `zip_with(xxhash64)`, kept in MlSpec) is spec-pinned
    * so the rule cannot drift. */
  private def chainedXxhash(th: Column, w: Int): Column =
    udf((hs: Array[Long]) => if (hs == null) null else windowHashes(hs, w)).apply(th)

  /** The w-wide window digests of `hs` (empty when it is shorter than w). */
  private def windowHashes(hs: Array[Long], w: Int): Array[Long] = {
    val out = new Array[Long](math.max(hs.length - (w - 1), 0))
    var j = 0
    while (j < out.length) {
      var h = hs(j)
      var k = 1
      while (k < w) { h = XXH64.hashLong(hs(j + k), XXH64.hashLong(h, 42L)); k += 1 }
      out(j) = h
      j += 1
    }
    out
  }

  // Mersenne prime 2^31-1: universal-hash family h_j(x) = (a_j*x' + b_j) mod p
  // with x' = x mod p pre-reduced, so a*x' <= (2^31)^2 < 2^63 — no Long
  // overflow under ANSI mode. 31-bit minhash values are plenty for LSH.
  private val P = 2147483647L
  // private[graft]: the llm_minhash_pairs_md5 oracle embeds these
  // constants in its SQL so the replay cannot drift from the UDF
  private[graft] def hashParams(numHashes: Int, seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numHashes)((math.abs(rnd.nextLong()) % (P - 1) + 1, math.abs(rnd.nextLong()) % P))
  }

  /** `x % P` for `x >= 0` without a division: 2^31 ≡ 1 (mod P), so the
    * high and low 31 bits add up to the same residue. Two folds bring any
    * non-negative Long below P + 4, one subtraction below P. */
  private[graft] def modP(x: Long): Long = {
    val y = (x & P) + (x >>> 31)
    val z = (y & P) + (y >>> 31)
    if (z >= P) z - P else z
  }

  /** `a` sorted ascending in place, then its distinct values. */
  private def sortedDistinct(a: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(a)
    var d = 0
    var i = 0
    while (i < a.length) {
      if (d == 0 || a(i) != a(d - 1)) { a(d) = a(i); d += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(a, d)
  }

  /** The MinHash min-fold over shingle hashes `hs`: for each (a_j, b_j),
    * the least (a_j·(h mod P) + b_j) mod P over h in `hs`. */
  private def minhashOf(hs: Array[Long], as: Array[Long], bs: Array[Long]): Array[Long] = {
    val out = Array.fill(as.length)(Long.MaxValue)
    var i = 0
    while (i < hs.length) {
      val r = hs(i) % P
      val hp = if (r < 0) r + P else r
      var j = 0
      while (j < as.length) {
        val v = modP(hp * as(j) + bs(j))
        if (v < out(j)) out(j) = v
        j += 1
      }
      i += 1
    }
    out
  }

  /** MinHash signature UDF: one O(shingles × numHashes) tight JVM loop per
    * row. (The pure-Column form — numHashes separate array_min(transform)
    * terms — blows the 64KB codegen method limit and falls back to
    * per-expression interpretation, ~10× slower; a single fused loop is the
    * faster executor-side plan and stays partition-local.) Takes and
    * returns `Array[Long]`, as [[chainedXxhash]] does: a `Seq[Long]`
    * signature boxes every shingle hash on the way in and every minimum on
    * the way out. */
  def minhashSigUdf(numHashes: Int, seed: Long = 42L)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val as = hashParams(numHashes, seed).map(_._1).toArray
    val bs = hashParams(numHashes, seed).map(_._2).toArray
    // a null text has no shingles and no signature
    udf((hs: Array[Long]) => if (hs == null) null else minhashOf(hs, as, bs))
  }

  /** MinHash signature: array<long> of length `numHashes`. */
  def minhashSignature(text: Column, numHashes: Int = 64, shingleN: Int = 3,
                       seed: Long = 42L): Column =
    minhashSigUdf(numHashes, seed)(shingleHashes(text, shingleN))

  /** One document's LSH row: its sorted distinct shingle hashes and its
    * band keys. */
  private[graft] case class LshRow(sh: Array[Long], bands: Array[Int])

  /** The fused per-document MinHash LSH kernel: from a text's UTF-8 bytes
    * to the same shingle set, signature and band keys as the Column chain
    * `sort_array(shingleHashes)` → [[minhashSigUdf]] → `hash(slice(sig))`
    * per band, in one pass with no token strings.
    *
    * An ASCII text is lowercased and tokenized on its bytes (a token is a
    * maximal [a-z0-9] run, which is what `[^\p{L}\p{N}]+` leaves of ASCII)
    * and each token's byte range is hashed in place with the XXH64 kernel
    * `xxhash64` uses. A text with any non-ASCII byte takes Spark's own
    * `lower` (CollationSupport, with the session's ICU case-mapping
    * setting) and the same regex split, so case mappings and code-point
    * classes cannot drift. Shingles replay `xxhash64(array)` and
    * [[chainedXxhash]] exactly; a band key replays Murmur3 (`hash`, seed
    * 42) over the band's signature slice. */
  private[graft] final class LshKernel(numHashes: Int, rowsPerBand: Int, shingleN: Int,
                                       seed: Long, icuLower: Boolean) extends Serializable {
    private val as = hashParams(numHashes, seed).map(_._1).toArray
    private val bs = hashParams(numHashes, seed).map(_._2).toArray

    /** XXH64 (seed 42) of every token of `text`, in order. */
    def tokenHashes(text: Array[Byte]): Array[Long] = {
      var i = 0
      while (i < text.length && text(i) >= 0) i += 1
      if (i < text.length) unicodeTokenHashes(text)
      else {
        val low = new Array[Byte](text.length)
        val out = new Array[Long]((text.length + 1) / 2)
        var n = 0
        i = 0
        while (i < text.length) {
          while (i < text.length && !LshKernel.isAlnum(text(i))) i += 1
          val s = i
          while (i < text.length && LshKernel.isAlnum(text(i))) {
            val c = text(i)
            low(i) = if (c >= 'A' && c <= 'Z') (c + 32).toByte else c
            i += 1
          }
          if (i > s) {
            out(n) = XXH64.hashUnsafeBytes(low, Platform.BYTE_ARRAY_OFFSET + s, i - s, 42L)
            n += 1
          }
        }
        java.util.Arrays.copyOf(out, n)
      }
    }

    private def unicodeTokenHashes(text: Array[Byte]): Array[Long] = {
      val u = UTF8String.fromBytes(text)
      val low = if (icuLower) CollationSupport.Lower.execBinaryICU(u) else CollationSupport.Lower.execBinary(u)
      LshKernel.separators.split(low.toString, -1).filter(_.nonEmpty).map { t =>
        val b = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
      }
    }

    /** Sorted distinct shingle hashes of token hashes `th`. */
    def shingles(th: Array[Long]): Array[Long] =
      if (th.length < shingleN) {
        var h = 42L
        th.foreach(t => h = XXH64.hashLong(t, h))
        Array(h)
      } else sortedDistinct(windowHashes(th, shingleN))

    def signature(sh: Array[Long]): Array[Long] = minhashOf(sh, as, bs)

    def bandKeys(sig: Array[Long]): Array[Int] = {
      val out = new Array[Int](numHashes / rowsPerBand)
      var b = 0
      while (b < out.length) {
        var h = 42
        var k = b * rowsPerBand
        while (k < (b + 1) * rowsPerBand) { h = Murmur3_x86_32.hashLong(sig(k), h); k += 1 }
        out(b) = h
        b += 1
      }
      out
    }

    def apply(text: Array[Byte]): LshRow =
      if (text == null) null // no shingles, no signature, no band rows
      else {
        val sh = shingles(tokenHashes(text))
        LshRow(sh, bandKeys(signature(sh)))
      }
  }

  private[graft] object LshKernel {
    val separators: java.util.regex.Pattern = java.util.regex.Pattern.compile("[^\\p{L}\\p{N}]+")

    def isAlnum(c: Byte): Boolean =
      (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || (c >= 'A' && c <= 'Z')

    /** The kernel with the active session's case-mapping setting, the one
      * `lower` reads. */
    def apply(numHashes: Int, rowsPerBand: Int, shingleN: Int, seed: Long): LshKernel =
      new LshKernel(numHashes, rowsPerBand, shingleN, seed,
        SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED))
  }

  /** MinHash + LSH near-duplicate PAIRS.
    *
    * numHashes = bands * rowsPerBand. Two docs land in the same bucket if
    * any band of their signatures matches exactly; candidates are then
    * verified with exact Jaccard over shingle sets. Output:
    * (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    *
    * One pass per document: the fused [[LshKernel]] turns the text into
    * its sorted shingle set and its band keys (the signature never leaves
    * the kernel), and that row is materialized once as the "signature
    * table" that both the buckets and the verification read. The band
    * rows are slim (band, 4-byte key, id), and [[boundedBucketPairs]]
    * turns them into candidate pairs in one aggregate, so a hot bucket
    * costs bounded memory and never a quadratic join. The candidates join
    * back to the shingle table on id_a, then id_b, for the exact Jaccard.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double = 0.6, bands: Int = 16, rowsPerBand: Int = 4,
                      shingleN: Int = 3, seed: Long = 42L,
                      maxBucketSize: Int = 1000): DataFrame = {
    val kernel = LshKernel(bands * rowsPerBand, rowsPerBand, shingleN, seed)
    // the struct stays whole in the checkpoint: a projection of its fields
    // above the UDF could be inlined into one kernel call per field
    val withSig = Checkpoint.lazily(df.select(col(idCol).as("_id"),
      udf((t: Array[Byte]) => kernel(t)).withName("minhash_lsh_kernel")(
        col(textCol).cast(StringType).cast(BinaryType)).as("_k")))

    // A null text has no band rows (posexplode of null): it stays a singleton.
    val banded = withSig.select(col("_id"), posexplode(col("_k.bands")).as(Seq("_band", "_bkey")))

    val candidates = boundedBucketPairs(banded, "_id", Seq("_band", "_bkey"), maxBucketSize)

    val shA = withSig.select(col("_id").as("id_a"), col("_k.sh").as("_sh_a"))
    val shB = withSig.select(col("_id").as("id_b"), col("_k.sh").as("_sh_b"))
    candidates.join(shA, "id_a").join(shB, "id_b")
      .withColumn("jaccard", sortedJaccard(col("_sh_a"), col("_sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Jaccard of two ascending distinct long sets in one linear merge:
    * |A∩B| / (|A|+|B|−|A∩B|). The same double as
    * `size(array_intersect) / size(array_union)`, without the two hash-set
    * builds per pair; two empty sets give NaN. */
  private[graft] val sortedJaccard = udf { (a: Array[Long], b: Array[Long]) =>
    var i = 0
    var j = 0
    var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) < b(j)) i += 1
      else if (b(j) < a(i)) j += 1
      else { inter += 1; i += 1; j += 1 }
    }
    inter.toDouble / (a.length + b.length - inter).toDouble
  }

  /** Exact n-gram Jaccard similarity between two text columns (verification
    * primitive; also exposed as a standalone operator). */
  def ngramJaccard(a: Column, b: Column, n: Int = 3): Column = {
    val (ha, hb) = (shingleHashes(a, n), shingleHashes(b, n))
    size(array_intersect(ha, hb)).cast(DoubleType) /
      size(array_union(ha, hb)).cast(DoubleType)
  }

  /** SimHash (64-bit): sign-sum of per-token hash bits. The per-row UDF is
    * O(tokens*64) executor-side; rows never leave their partition. */
  private val simhashFn: Seq[Long] => Long = { hs =>
    val acc = new Array[Int](64)
    hs.foreach { h =>
      var i = 0
      while (i < 64) { if (((h >>> i) & 1L) == 1L) acc(i) += 1 else acc(i) -= 1; i += 1 }
    }
    var out = 0L
    var i = 0
    while (i < 64) { if (acc(i) > 0) out |= (1L << i); i += 1 }
    out
  }
  val simhashUdf = udf(simhashFn)

  def simhash(text: Column): Column = simhashUdf(transform(tokens(text), t => xxhash64(t)))

  /** Hamming distance between two simhashes — codegen'd `bit_count(xor)`. */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Pigeonhole-sound pair generation from exact-match buckets with a skew
    * guard: buckets of more than `maxBucketSize` rows are dropped from
    * candidate generation (a degenerate key — e.g. near-empty docs all
    * hashing alike — otherwise goes quadratic in one task; its members
    * still pair via their other bands/blocks). Output: the distinct
    * (id_a, id_b), id_a < id_b, of ids sharing a kept bucket.
    *
    * One `groupBy(bucket)` with the [[BoundedIds]] collector does it, and
    * the pairs are emitted per bucket. The collector aggregates partially,
    * so a hot key is absorbed map-side, and once a bucket passes the cap it
    * keeps only its row count: a hot key's memory stays bounded on both the
    * map and the reduce side, where a window count would funnel all its
    * rows into one task and a self-join would build its square. Integral
    * ids only; any other id type takes the same rule as a size aggregate,
    * a join back and a self-join. */
  private[graft] def boundedBucketPairs(df: DataFrame, idCol: String,
                                     bucketKeys: Seq[String], maxBucketSize: Int): DataFrame = {
    val keyed = df.filter(bucketKeys.map(col(_).isNotNull).reduce(_ && _))
    val idType = df.schema(idCol).dataType
    val pairs = idType match {
      case ByteType | ShortType | IntegerType | LongType =>
        // the ids come sorted and distinct: each pairs with those after it
        keyed.groupBy(bucketKeys.map(col): _*)
          .agg(udaf(new BoundedIds(maxBucketSize), Encoders.LONG)(col(idCol).cast(LongType)).as("_ids"))
          .select(col("_ids"), posexplode(col("_ids")).as(Seq("_i", "id_a")))
          .select(col("id_a"), explode(slice(col("_ids"), col("_i") + 2,
            size(col("_ids")) - col("_i") - 1)).as("id_b"))
          .select(col("id_a").cast(idType).as("id_a"), col("id_b").cast(idType).as("id_b"))
      case _ =>
        val small = keyed.groupBy(bucketKeys.map(col): _*)
          .agg(count(lit(1)).as("_bsz")).filter(col("_bsz") <= maxBucketSize)
          .select(bucketKeys.map(col): _*)
        val bounded = keyed.join(small, bucketKeys)
        bounded.select(bucketKeys.map(col) :+ col(idCol).as("id_a"): _*)
          .join(bounded.select(bucketKeys.map(col) :+ col(idCol).as("id_b"): _*), bucketKeys)
          .filter(col("id_a") < col("id_b"))
          .select("id_a", "id_b")
    }
    pairs.dropDuplicates("id_a", "id_b")
  }

  /** The ids of one bucket while it holds at most `max` rows: `n` counts
    * the rows seen (a null id too), `ids(0 until len)` holds the non-null
    * ids, and once `n` passes `max` the ids are dropped for good. */
  private[graft] case class IdBuf(var n: Long, var ids: Array[Long], var len: Int)

  /** The bounded id collector of [[boundedBucketPairs]]. No buffer ever
    * holds more than `max` ids, in an update or in a merge of two partial
    * buffers. The result is the bucket's sorted distinct ids, or empty
    * for a bucket of more than `max` rows. */
  private[graft] final class BoundedIds(max: Int)
      extends org.apache.spark.sql.expressions.Aggregator[java.lang.Long, IdBuf, Array[Long]] {
    def zero: IdBuf = IdBuf(0L, Array.emptyLongArray, 0)

    /** Room for `count` more ids; `b.n <= max` bounds the growth. */
    private def grow(b: IdBuf, count: Int): Unit =
      if (b.len + count > b.ids.length)
        b.ids = java.util.Arrays.copyOf(b.ids, math.min(max, math.max(b.len + count, 2 * b.ids.length)))

    private def overflow(b: IdBuf): IdBuf = {
      if (b.n > max) { b.ids = Array.emptyLongArray; b.len = 0 }
      b
    }

    def reduce(b: IdBuf, id: java.lang.Long): IdBuf = {
      b.n += 1
      if (b.n <= max && id != null) { grow(b, 1); b.ids(b.len) = id; b.len += 1 }
      overflow(b)
    }

    def merge(b1: IdBuf, b2: IdBuf): IdBuf = {
      b1.n += b2.n
      if (b1.n <= max) {
        grow(b1, b2.len)
        System.arraycopy(b2.ids, 0, b1.ids, b1.len, b2.len)
        b1.len += b2.len
      }
      overflow(b1)
    }

    def finish(b: IdBuf): Array[Long] = sortedDistinct(java.util.Arrays.copyOf(b.ids, b.len))

    def bufferEncoder: Encoder[IdBuf] = Encoders.product[IdBuf]
    def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  /** SimHash near-dup pairs: block on `b` sub-keys of 64/b bits each (any
    * exact sub-key match → candidate). Pigeonhole: Hamming <= k flips at
    * most k blocks, so with b >= k+1 blocks at least one block matches —
    * recall is GUARANTEED at the declared radius. b is the smallest
    * power-of-two divisor of 64 with b > maxHamming (4/8/16/32); an
    * assertion rejects radii the blocking cannot serve. Verified with full
    * Hamming distance; bucket-size capped against degenerate keys. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, maxBucketSize: Int = 1000): DataFrame =
    hammingBandedPairs(
      df.select(col(idCol).as("_id"), simhash(col(textCol)).as("_sim")),
      "_id", "_sim", maxHamming, maxBucketSize)

  /** Hamming-banded near-dup pairs over ANY 64-bit fingerprint column —
    * the simhash blocking machinery factored out so other 64-bit
    * fingerprints (perceptual image dHash, future audio prints) get the
    * same pigeonhole-sound, never-all-pairs candidate generation.
    * Contract and plan identical to [[simhashPairs]]'s body. */
  def hammingBandedPairs(sigs0: DataFrame, idCol: String, sigCol: String,
                         maxHamming: Int = 3, maxBucketSize: Int = 1000): DataFrame = {
    val blocks = Seq(4, 8, 16, 32).find(_ > maxHamming).getOrElse(
      throw new IllegalArgumentException(
        s"hammingBandedPairs: maxHamming=$maxHamming needs > 32 blocks; blocking cannot guarantee recall beyond 31"))
    hammingBandedPairsWith(
      sigs0.select(col(idCol).as("_id"), col(sigCol).as("_sim")),
      maxHamming, maxBucketSize, blocks)
  }

  /** Block-count selection from the population size — the r16 scale
    * prescription ("radius-3 blocks at >= 1M fingerprints") automated.
    * Expected bucket occupancy under a uniform 64-bit fingerprint is
    * n / 2^(64/b) — increasing in b (fewer bits per block), so the
    * candidates that survive `maxBucketSize` form a PREFIX of
    * {4,8,16,32}. Rule: take the recall-guaranteeing count (first
    * b > maxHamming) when its expected occupancy stays under the cap;
    * otherwise fall back to the LARGEST fitting count (the widest
    * guaranteed radius the population still permits — pigeonhole then
    * covers b-1 < maxHamming flips, the documented trade: candidates
    * are still Hamming-verified at the full radius, only the recall
    * GUARANTEE narrows). Past n ≈ cap·2^16 even 16-bit blocks
    * saturate — 4 blocks is the widest a 64-bit fingerprint offers,
    * and the bucket cap keeps the join bounded (degenerate keys drop,
    * exactly as at gate scale).
    *
    * ASSUMES UNIFORM FINGERPRINTS (r17 advice): simhash over natural
    * text is skewed — head buckets can cross `maxBucketSize` long
    * before the uniform MEAN estimate does, and the cap then silently
    * drops them from pair generation (recall loss beyond the documented
    * guarantee-narrowing trade). When the fingerprint distribution is
    * unknown or known-skewed, size from the data instead:
    * [[chooseBlocksMeasured]] evaluates the same preference order
    * against the MEASURED share of fingerprints living in over-cap
    * buckets. */
  private[graft] def chooseBlocks(n: Long, maxHamming: Int, maxBucketSize: Int): Int = {
    val candidates = Seq(4, 8, 16, 32)
    val guaranteed = candidates.find(_ > maxHamming).getOrElse(
      throw new IllegalArgumentException(
        s"chooseBlocks: maxHamming=$maxHamming needs > 32 blocks; blocking cannot guarantee recall beyond 31"))
    def occupancy(b: Int): Double = n.toDouble / math.pow(2.0, 64.0 / b)
    if (occupancy(guaranteed) < maxBucketSize) guaranteed
    else candidates.filter(b => b < guaranteed && occupancy(b) < maxBucketSize)
      .lastOption.getOrElse(4)
  }

  /** Occupancy share a geometry would DROP: the fraction of (row,
    * block) occurrences landing in buckets larger than the cap — the
    * quantity the bucket cap actually loses, measured on the real
    * fingerprints instead of estimated under uniformity. One explode +
    * groupBy over the slim (8-byte) signature column per geometry
    * probed. */
  private def measuredDropShare(sigs: DataFrame, blocks: Int,
                                capForSample: Double): Double = {
    val bits = 64 / blocks
    val mask = if (bits == 64) -1L else (1L << bits) - 1L
    val row = sigs.select(posexplode(array((0 until blocks).map(i =>
        shiftright(col("_sim"), i * bits).bitwiseAND(lit(mask))): _*))
        .as(Seq("_blk", "_key")))
      .groupBy("_blk", "_key").agg(count(lit(1)).as("_bsz"))
      // coalesce: an EMPTY fingerprint frame aggregates to NULL sums,
      // and getLong on a null throws — an empty population drops 0%
      .agg(coalesce(sum(when(col("_bsz").cast(DoubleType) > capForSample,
            col("_bsz")).otherwise(0L)), lit(0L)).as("_drop"),
        coalesce(sum(col("_bsz")), lit(0L)).as("_tot"))
      .collect()(0)
    if (row.getLong(1) == 0L) 0.0 else row.getLong(0).toDouble / row.getLong(1)
  }

  /** [[chooseBlocks]] sized from the DATA, not the uniform closed form
    * (r17 advice — skewed fingerprints): walks the same preference
    * order (recall-guaranteeing count first, then descending), taking
    * the first geometry whose MEASURED over-cap occupancy share stays
    * within `maxDropShare`; if none fits, the one dropping least.
    * Costs one explode+groupBy over the slim signature rows per
    * geometry evaluated (usually exactly one — the guaranteed
    * geometry fits).
    *
    * `scaleTo` extrapolates a SAMPLE measurement to a larger expected
    * population (the ingest-meter composition, r18 review): bucket
    * occupancy grows proportionally under a stationary fingerprint
    * distribution, so a bucket of b sample rows represents b·(N/n) at
    * population N — equivalently, the cap compared against the sample
    * shrinks to cap·(n/N). Shares are scale-free (the ratio cancels in
    * numerator and denominator), so the returned geometry is the one
    * the full population would measure, modulo sampling error in the
    * bucket tails. */
  private[graft] def chooseBlocksMeasured(sigs: DataFrame, maxHamming: Int,
                                          maxBucketSize: Int,
                                          maxDropShare: Double = 0.01,
                                          scaleTo: Option[Long] = None): Int = {
    val candidates = Seq(4, 8, 16, 32)
    val guaranteed = candidates.find(_ > maxHamming).getOrElse(
      throw new IllegalArgumentException(
        s"chooseBlocksMeasured: maxHamming=$maxHamming needs > 32 blocks; blocking cannot guarantee recall beyond 31"))
    val capForSample: Double = scaleTo match {
      case Some(target) if target > 0 =>
        val n = sigs.count()
        if (n == 0L) maxBucketSize.toDouble
        else maxBucketSize.toDouble * n / target
      case _ => maxBucketSize.toDouble
    }
    // preference order of the uniform rule: guaranteed, then the widest
    // fitting narrower geometries in descending order
    val order = guaranteed +: candidates.filter(_ < guaranteed).reverse
    var best = order.head
    var bestShare = Double.MaxValue
    val it = order.iterator
    while (it.hasNext) {
      val b = it.next()
      val share = measuredDropShare(sigs, b, capForSample)
      if (share <= maxDropShare) return b
      if (share < bestShare) { bestShare = share; best = b }
    }
    best // nothing fits the budget: least-dropping geometry
  }

  /** [[hammingBandedPairs]] with the block count chosen from the
    * population size ([[chooseBlocks]]) instead of the radius alone —
    * the auto form of the manual scale prescription. `nHint` skips the
    * count when the caller already knows the population (a streaming
    * deploy sizing from its ingest meter); without it ONE count() over
    * the slim checkpointed (id, fingerprint) rows decides. Explicit
    * overrides remain: callers wanting a specific geometry use the
    * manual [[hammingBandedPairs]].
    *
    * Sizing is MEASURED by default (r19 — previously the uniform
    * closed form): [[chooseBlocksMeasured]] walks the same preference
    * order against the measured share of fingerprint occurrences in
    * over-cap buckets — one extra explode+groupBy per geometry probed
    * over the already-checkpointed 16-byte rows. The uniform estimate
    * (`measured = false`) is cheaper by that aggregation but ASSUMES
    * UNIFORM fingerprints (see [[chooseBlocks]]) — adequate for
    * hash-like prints (minhash-band keys, dHash on diverse media),
    * quantifiably wrong for skewed ones: SCALING r18 §3 measured the
    * uniform pick silently dropping 6.6% of true pairs on a skewed 10×
    * phash population whose hot buckets saturated the cap. Recall loss
    * is a correctness property for a dedup pipeline, so the default
    * pays the aggregation. The knobs COMPOSE: with `nHint` set, the
    * measurement over the staged rows is extrapolated to the hinted
    * population (chooseBlocksMeasured's scaleTo —
    * stationary-distribution proportional growth), so an early sample
    * sizes for the deploy-scale corpus instead of for itself. */
  def hammingBandedPairsAuto(sigs0: DataFrame, idCol: String, sigCol: String,
                             maxHamming: Int = 3, maxBucketSize: Int = 1000,
                             nHint: Option[Long] = None,
                             measured: Boolean = true): DataFrame = {
    // 16-byte rows; counted once, banded once
    val sigs = Checkpoint.lazily(sigs0.select(col(idCol).as("_id"), col(sigCol).as("_sim")))
    val blocks =
      if (measured) chooseBlocksMeasured(sigs, maxHamming, maxBucketSize,
        scaleTo = nHint)
      else chooseBlocks(nHint.getOrElse(sigs.count()), maxHamming, maxBucketSize)
    hammingBandedPairsWith(sigs, maxHamming, maxBucketSize, blocks)
  }

  private[graft] def hammingBandedPairsWith(sigs: DataFrame, maxHamming: Int,
                                            maxBucketSize: Int, blocks: Int): DataFrame = {
    val bits = 64 / blocks
    val mask = (1L << bits) - 1L
    // Unlike minhash (KB-sized shingle arrays), the simhash signature is
    // 8 bytes — CHEAPER to carry through the banded join than to join it
    // back per candidate. Crucially this lets the Hamming filter run
    // BEFORE pair dedup: the candidate set shrinks from O(bucket²) to the
    // few true near-dups, and dropDuplicates shuffles almost nothing.
    // consumed by the size agg AND the join probe
    val blocked = Checkpoint.lazily(sigs.select(col("_id"), col("_sim"),
      posexplode(array((0 until blocks).map(i =>
        shiftright(col("_sim"), i * bits).bitwiseAND(lit(mask))): _*)).as(Seq("_blk", "_key"))))
    // bucket sizes via groupBy+count+join-back, not a window count — same
    // skew rationale as boundedBucketPairs (partial agg absorbs a hot
    // block key map-side; a window would funnel it into one task)
    val small = blocked.groupBy("_blk", "_key")
      .agg(count(lit(1)).as("_bsz")).filter(col("_bsz") <= maxBucketSize)
      .select("_blk", "_key")
    val bounded = blocked.join(small, Seq("_blk", "_key"))
    bounded.select(col("_blk"), col("_key"), col("_id").as("id_a"), col("_sim").as("_sim_a"))
      .join(bounded.select(col("_blk"), col("_key"), col("_id").as("id_b"), col("_sim").as("_sim_b")),
        Seq("_blk", "_key"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", hammingDistance(col("_sim_a"), col("_sim_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
      .dropDuplicates("id_a", "id_b")
  }

  /** Exact dedup: keep one deterministic winner per content digest.
    *
    * groupBy(digest) + min_by, NOT a row_number window: a window function
    * hash-exchanges ALL rows of one digest into ONE task, and a viral
    * exact-duplicate text (the very thing exact dedup hunts at 100 TB) is
    * exactly such a hot digest. min_by is a declarative aggregate with
    * partial (map-side) combine — each input partition contributes at most
    * one candidate row per digest it holds, so no reducer ever sees the
    * full duplicate pile. Ties on `tieBreak` are arbitrary (same contract
    * as the previous window form); callers pass a unique key. NULL
    * tieBreak values rank FIRST (the nulls-first contract of the window
    * form this replaced) and never drop a group's rows: the ordering
    * rides a never-null (isNotNull, value) struct, because a bare
    * min_by ignores rows whose ordering value is NULL. */
  def exact(df: DataFrame, textCol: String, tieBreak: Column): DataFrame = {
    val cols = df.columns.toSeq
    df.groupBy(sha2(col(textCol).cast(BinaryType), 256).as("_dg"))
      .agg(min_by(struct(cols.map(col): _*),
        struct(tieBreak.isNotNull, tieBreak)).as("_w"))
      .select(cols.map(c => col("_w").getField(c).as(c)): _*)
  }

  /** Decontamination: flag training docs that share any word n-gram with
    * an eval/benchmark set (the GPT-3 13-gram decontamination shape).
    *
    * Scale plan: the eval set's distinct n-grams are tiny relative to a
    * 100 TB corpus → collected into a broadcast hash relation; the train
    * side explodes per-doc DISTINCT n-grams map-side and broadcast-joins
    * (the corpus itself never shuffles), then partial-aggregates overlap
    * counts per doc — the only shuffle carries (id, partial count) for
    * contaminated docs. Output: (idCol, n_overlap) for contaminated docs
    * only; anti-join the result against the corpus to get the clean set.
    */
  def decontaminate(train: DataFrame, evalSet: DataFrame, idCol: String,
                    textCol: String, n: Int = 8): DataFrame = {
    // n-grams are HASHED numerically (shingleHashes: token-hash windows,
    // no per-gram string concat) — the explode carries 8-byte longs, the
    // broadcast map holds longs, and no gram string is ever materialized.
    // Same count modulo negligible 64-bit collisions (cf. ngramJaccard).
    val evalGrams = evalSet
      .select(explode(shingleHashes(col(textCol), n)).as("_g")).distinct()
    val trainGrams = train.select(col(idCol),
      explode(shingleHashes(col(textCol), n)).as("_g"))
    trainGrams.join(broadcast(evalGrams), "_g")
      .groupBy(idCol).agg(count(lit(1)).as("n_overlap"))
  }

  /** Embedding cosine near-dup pairs via random-hyperplane LSH buckets:
    * docs whose sign-signature agrees on one of `tables` projections are
    * candidates; verified with exact cosine. Like minhash, the candidate
    * shuffle carries only (table, signature, id) — vectors join back
    * AFTER candidate generation, so the wide embedding arrays never ride
    * the bucket shuffle. */
  def embeddingPairs(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                     threshold: Double = 0.95, planesPerTable: Int = 12,
                     tables: Int = 4, seed: Long = 42L,
                     maxBucketSize: Int = 1000): DataFrame = {
    val vecs = Checkpoint.lazily(df.select(col(idCol).as("_id"), col(vecCol).as("_v")))
    val sigExprs = (0 until tables).map { t =>
      Similarity.hyperplaneSignature(col("_v"), dim, planesPerTable, seed + t)
    }
    val banded = vecs.select(col("_id"),
      posexplode(array(sigExprs: _*)).as(Seq("_tbl", "_sig")))
    val candidates = boundedBucketPairs(banded, "_id", Seq("_tbl", "_sig"), maxBucketSize)
    candidates
      .join(vecs.select(col("_id").as("id_a"), col("_v").as("_v_a")), "id_a")
      .join(vecs.select(col("_id").as("id_b"), col("_v").as("_v_b")), "id_b")
      .withColumn("cosine", graft.functions.Blob.cosineSimilarity(col("_v_a"), col("_v_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Min-label connected components of an edge list `(a(k), b(k))` — the
    * one union-find kernel, run on the driver and inside every edge
    * partition of [[connectedComponents]]. Path halving, union by min:
    * every tree's root is its component's minimum at all times. Works on
    * primitive arrays only (about 44 B per edge and node, where boxed
    * hash maps cost about 100 B per node).
    *
    * @return (nodes, labels): every endpoint once, ascending, and the
    *         minimum node of its component */
  def localMinLabel(a: Array[Long], b: Array[Long]): (Array[Long], Array[Long]) = {
    require(a.length == b.length, "localMinLabel: endpoint arrays differ in length")
    // endpoints sorted and deduplicated: index order IS id order, so
    // union by min index is union by min id
    val ids = new Array[Long](2 * a.length)
    System.arraycopy(a, 0, ids, 0, a.length)
    System.arraycopy(b, 0, ids, a.length, b.length)
    java.util.Arrays.sort(ids)
    var m = 0
    var i = 0
    while (i < ids.length) {
      if (m == 0 || ids(i) != ids(m - 1)) { ids(m) = ids(i); m += 1 }
      i += 1
    }
    val parent = new Array[Int](m)
    i = 0
    while (i < m) { parent(i) = i; i += 1 }
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    def index(v: Long): Int = java.util.Arrays.binarySearch(ids, 0, m, v)
    i = 0
    while (i < a.length) {
      val ra = find(index(a(i)))
      val rb = find(index(b(i)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      i += 1
    }
    val labels = new Array[Long](m)
    i = 0
    while (i < m) { labels(i) = ids(find(i)); i += 1 }
    (java.util.Arrays.copyOf(ids, m), labels)
  }

  /** Connected components over a near-dup pair graph — the RESOLUTION
    * step of corpus dedup: pair generators (minhash/simhash/embedding/
    * exact) say "a duplicates b"; this turns the pair set into clusters
    * so one canonical document per cluster survives.
    *
    * Contraction first: the edges, normalised to (least, greatest), are
    * repartitioned on the smaller endpoint with no fixed partition count,
    * so AQE sizes the partitions, and each partition labels its own edges
    * with [[localMinLabel]]. The minimum of those local labels per node
    * seeds the labels. Every label is then a member of the node's own
    * component and no greater than the node, which makes one EDGE TEST
    * valid at any point: when no edge joins two different labels, each
    * component carries one label, and that label is its minimum.
    *
    * The seed aggregate also carries the least and the greatest of each
    * node's local labels, and when they agree at every node the
    * contraction has resolved every component with no edge test at all:
    * the local components of one component glue together at shared
    * nodes, agreement gives all of them one label, and that label is the
    * minimum of a subset holding the component's minimum (each local
    * label is the minimum of its local component). One full count of the
    * disagreeing nodes both decides that and materializes the seed. A
    * small edge set coalesces into one partition and always agrees.
    * Otherwise the edge test runs on the seeded labels, and while it finds
    * edges across labels, min-label rounds with PATH DOUBLING ("hash-to-
    * min" family) finish the job: each round a node takes the
    * min of its own label, its neighbors' labels and its label's label.
    * They run in batches of `rounds`, with the edge test after each batch
    * as the only convergence check. Each round is two shuffle joins plus
    * one groupBy, all keyed on node id; `localCheckpoint` truncates
    * lineage so the plan doesn't grow with iterations, and a batch's
    * superseded label frames are RELEASED once the edge test has
    * materialized their successor. Shuffle volume is O(|E|) per round
    * and the rounds are O(log d); nothing is collected to the driver.
    * Cluster caveat: localCheckpoint blocks are not recomputable, so an
    * executor loss mid-loop fails the job; multi-hour runs at cluster
    * scale want reliable checkpoints on the DFS, in the same loop.
    *
    * [[lastConvergedRounds]] counts the rounds run after contraction:
    * 0 when contraction alone resolved the graph.
    *
    * @param nodes one column `node` (long ids)
    * @param edges columns `id_a`,`id_b` (undirected pairs, either order)
    * @param rounds min-label rounds per batch when contraction leaves
    *        edges across labels
    * @return (node, label) where label = min node id in the component,
    *         for every node and every edge endpoint
    */
  // diagnostics: the rounds the LAST connectedComponents call ran after
  // contraction (read by CcRoundsProbe and, through graft.BenchAccess,
  // by perfbench's corpus_dedup layer)
  @volatile private[graft] var lastConvergedRounds: Int = 0

  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          rounds: Int = 6): DataFrame = {
    import org.apache.spark.sql.Encoders
    require(rounds >= 1, s"connectedComponents: rounds must be >= 1, got $rounds")
    val norm = Checkpoint.lazily( // read by contraction, every edge test and every round
      edges.select(least(col("id_a"), col("id_b")).cast(LongType).as("src"),
        greatest(col("id_a"), col("id_b")).cast(LongType).as("dst")))
    val pair = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    val contracted = norm.repartition(col("src")).as(pair).mapPartitions { it =>
      val a = new scala.collection.mutable.ArrayBuilder.ofLong
      val b = new scala.collection.mutable.ArrayBuilder.ofLong
      it.foreach { case (x, y) => a += x; b += y }
      val (ids, labels) = localMinLabel(a.result(), b.result())
      ids.iterator.zip(labels.iterator)
    }(pair).toDF("node", "_c")
    // _lo/_hi: the least and greatest of a node's contracted labels
    val seed = Checkpoint.lazily(
      nodes.select(col("node"), col("node").as("label"), lit(null).cast(LongType).as("_c"))
        .unionByName(contracted.select(col("node"), col("_c").as("label"), col("_c")))
        .groupBy("node").agg(min("label").as("label"), min("_c").as("_lo"), max("_c").as("_hi")))
    var labels = seed.select("node", "label")
    val retired = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def badEdges(): Long = {
      // a FULL count, deliberately not limit(1): the edge test is also
      // the job that materializes EVERY partition of the label checkpoint
      // (a limit(1) job leaves the rest lazy, and releasing the frames
      // they read would strand them: CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)
      val bad = norm
        .join(labels.select(col("node").as("src"), col("label").as("_ls")), "src")
        .join(labels.select(col("node").as("dst"), col("label").as("_ld")), "dst")
        .filter(col("_ls") =!= col("_ld"))
        .count()
      retired.foreach(Checkpoint.release)
      retired.clear()
      bad
    }
    lazy val sym = norm.unionByName(norm.select(col("dst").as("src"), col("src").as("dst")))
    var i = 0
    def runRound(): Unit = {
      i += 1
      val viaEdge = sym.join(labels, sym("dst") === labels("node"))
        .select(sym("src").as("node"), labels("label"))
      val hop = labels.as("x").join(labels.as("p"), col("x.label") === col("p.node"))
        .select(col("x.node").as("node"), col("p.label").as("label"))
      retired += labels
      labels = Checkpoint.lazily(
        labels.unionByName(viaEdge).unionByName(hop)
          .groupBy("node").agg(min("label").as("label")))
    }
    val maxRounds = 40 // reach 2^39 — beyond any real component diameter
    // a FULL count, like the edge test's: it materializes every partition
    // of the seed checkpoint
    val disagreeing = seed.filter(col("_lo") =!= col("_hi")).count()
    var bad = if (disagreeing == 0) 0L else badEdges()
    while (bad > 0 && i < maxRounds) {
      (1 to math.min(rounds, maxRounds - i)).foreach(_ => runRound())
      bad = badEdges()
    }
    lastConvergedRounds = i
    require(bad == 0, s"connectedComponents not converged after $i rounds")
    // the edges are dead once the caller's reads hit the final labels
    // checkpoint; labels itself stays live for the caller
    Checkpoint.release(norm)
    labels
  }

  /** Substring-level (span) dedup — the sequence-dedup flavor of
    * "Deduplicating Training Data Makes Language Models Better"
    * (Lee et al. 2021, arXiv:2107.06499): find maximal token spans that
    * occur ≥2 times anywhere in the corpus, so a pipeline can CUT the
    * repeated span (boilerplate, licenses, templated headers) instead of
    * dropping whole documents. Document-level dedup misses these;
    * the paper's suffix-array pass is replaced here by the standard
    * distributed approximation: fixed-width W-token rolling windows.
    *
    * Shape: tokenize → W-token windows at every offset (hashed to 8-byte
    * digests BEFORE the exchange, so shuffles move longs, not window
    * text; the occurrence table is localCheckpoint'ed once — the 100 TB
    * "signature table" stage) → per-digest occurrence counts via
    * groupBy+count, then
    * a join back to occurrences (partial aggregation absorbs a hot digest
    * map-side, and the join is AQE-skew-splittable / broadcastable — a
    * window-function count would hash-exchange EVERY occurrence of one
    * digest into ONE task, and viral boilerplate is exactly the data
    * shape this operator hunts) → per-doc gaps-and-islands merge of
    * overlapping/adjacent duplicated windows into maximal spans (one
    * shuffle keyed on doc, bounded per-partition by document length).
    * All shuffle keys are fixed-width; total work O(corpus tokens).
    *
    * @return (doc_id, span_start, span_end, n_windows): token-offset
    *         half-open [start, end) maximal duplicated spans
    */
  def dupSpans(df: DataFrame, idCol: String, textCol: String,
               w: Int = 15): DataFrame = {
    val base = df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("_t"))
      .filter(size(col("_t")) >= w)
    spansFromOccurrences(dupOccurrences(base, w), w)
  }

  /** 64-bit digests of the W-token windows of token array `t`, one per
    * offset — the SINGLE definition of the windowing rule, shared by the
    * batch operators and the streaming twin so they cannot drift.
    *
    * Tokens are hashed once, then each window chains the w token-hashes
    * numerically (the shingleHashes trick: w shifted slices combined
    * pairwise with zip_with) — no per-offset string concatenation, no
    * md5 over built strings, and the digest that rides every shuffle is
    * an 8-byte long instead of a 32-char hex string. Window equality is
    * preserved modulo negligible 64-bit collisions (same standard as
    * shingleHashes/decontaminate; the oracle compares final spans, which
    * are digest-free). */
  private[graft] def windowDigests(t: Column, w: Int): Column =
    chainedXxhash(transform(t, x => xxhash64(x)), w)

  /** Duplicated-window occurrences (doc_id, pos, …) → maximal per-doc
    * spans: gaps-and-islands merge + per-island aggregate. Shared by the
    * batch dupSpans and the streaming twin's finishing compaction. */
  private[graft] def spansFromOccurrences(occ: DataFrame, w: Int): DataFrame =
    mergeIslands(occ
        .select(col("doc_id"), col("pos").cast(LongType).as("pos"),
          (col("pos") + w - 1).cast(LongType).as("_e")))
      .groupBy(col("doc_id"), col("_isl"))
      .agg(min("pos").cast(LongType).as("span_start"),
        (max("_e") + 1).cast(LongType).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select("doc_id", "span_start", "span_end", "n_windows")

  /** (doc_id, pos, h): every W-token window occurrence, digests computed
    * map-side. Materialized once (lazy localCheckpoint): both the digest
    * statistics aggregate and the join probe consume it, and the explode
    * must not recompute per consumer. At cluster scale this is the
    * intermediate "window table" a span-dedup pipeline would persist. */
  private def winOccurrences(base: DataFrame, w: Int): DataFrame =
    Checkpoint.lazily(base.select(col("doc_id"),
        posexplode(windowDigests(col("_t"), w)).as(Seq("pos", "h"))))

  /** Occurrences of duplicated windows (corpus-wide count ≥ 2); when
    * `withCanon`, also the canonical occurrence _first = min (doc_id,
    * pos) per digest (only the CUT consumer pays for it).
    *
    * groupBy+count(+min(struct))+join-back, NOT window functions over
    * the digest: partial aggregation absorbs a viral digest map-side
    * (each input partition emits ONE partial row per digest), and the
    * join back is AQE-skew-splittable — or a broadcast when the
    * duplicated-digest set is small, which at high dedup quality it is.
    * A window count would pile every occurrence of the hottest digest
    * into one task — a straggler/OOM cliff exactly on this operator's
    * target data. */
  private def dupOccurrences(base: DataFrame, w: Int,
                             withCanon: Boolean = false): DataFrame = {
    val occ = winOccurrences(base, w)
    val aggs =
      if (withCanon) Seq(count(lit(1)).as("_c"),
        min(struct(col("doc_id"), col("pos"))).as("_first"))
      else Seq(count(lit(1)).as("_c"))
    val stats = occ.groupBy("h").agg(aggs.head, aggs.tail: _*)
      .filter(col("_c") >= 2)
    occ.join(stats, "h")
  }

  /** Gaps-and-islands: merge overlapping/adjacent [pos, _e] token
    * intervals per doc into `_isl`-numbered maximal islands. */
  private def mergeIslands(occ: DataFrame): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val pmax = max(col("_e")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    occ
      .withColumn("_brk", when(pmax.isNull || col("pos") > pmax + 1, 1).otherwise(0))
      .withColumn("_isl", sum(col("_brk")).over(byDoc))
  }

  /** The CUT step of substring-level dedup (Lee et al. 2021 keep-first
    * policy): every duplicated W-token window keeps its canonical
    * occurrence — the corpus-wide min (doc_id, pos) for that window —
    * and every OTHER occurrence is cut from its document. Non-canonical
    * windows merge per doc into maximal cut spans; the covered token
    * positions are removed and the survivor tokens re-joined.
    *
    * Shape: dupSpans' window/count stages — the canonical occurrence is
    * the min(struct(doc_id, pos)) already carried by the digest-stats
    * aggregate (partial-agg, skew-safe; see dupOccurrences) — then
    * cut-coverage as explode(positions) → LEFT ANTI join against the
    * token stream — all shuffle-keyed on (doc, pos), no per-row interval
    * scans, no collects. Docs without cuts (including docs shorter than
    * W) pass through unchanged.
    *
    * @return (doc_id, clean_text, n_cut) — normalized-token text with
    *         cut spans removed; n_cut = tokens removed
    */
  def dupSpanCut(df: DataFrame, idCol: String, textCol: String,
                 w: Int = 15): DataFrame = {
    val all = df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("_t"))
    val base = all.filter(size(col("_t")) >= w)
    // canonical occurrence per window digest = min (doc_id, pos), carried
    // as _first by dupOccurrences' digest-stats aggregate; every other
    // occurrence is a cut window
    val cut = dupOccurrences(base, w, withCanon = true)
      .filter(col("doc_id") =!= col("_first.doc_id") || col("pos") =!= col("_first.pos"))
      .select(col("doc_id"), col("pos"), (col("pos") + w - 1).as("_e"))
    rebuildWithoutSpans(all, cut)
  }

  /** Span-level eval-set DECONTAMINATION — the surgical variant of
    * [[decontaminate]]: instead of flagging (and dropping) every training
    * document that shares an n-gram with the eval set, CUT the matching
    * token spans and keep the rest of the document. Doc-level
    * decontamination throws away an entire document for one quoted
    * benchmark sentence; at 100 TB that is real data loss — the cut
    * variant removes exactly the contaminated windows (merged to maximal
    * spans) and rebuilds the survivors, the same rebuild machinery as
    * [[dupSpanCut]].
    *
    * Scale plan mirrors [[decontaminate]]: the eval set's distinct
    * window digests are tiny → broadcast; the train side explodes its
    * n-token windows map-side (8-byte digests, the [[windowDigests]]
    * rule) and broadcast-joins — the corpus never shuffles for the
    * match; only matched occurrences (rare) reach the per-doc island
    * merge. Docs shorter than n tokens cannot contain an n-token window
    * and pass through unchanged.
    *
    * @return (doc_id, clean_text, n_cut) — normalized-token text with
    *         contaminated spans removed; n_cut = tokens removed
    */
  def decontaminateCut(train: DataFrame, evalSet: DataFrame, idCol: String,
                       textCol: String, n: Int = 5): DataFrame = {
    val evalGrams = evalSet
      .select(explode(windowDigests(tokens(col(textCol)), n)).as("h")).distinct()
    val all = train.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("_t"))
    val occ = all.filter(size(col("_t")) >= n)
      .select(col("doc_id"), posexplode(windowDigests(col("_t"), n)).as(Seq("pos", "h")))
    val cut = occ.join(broadcast(evalGrams), "h")
      .select(col("doc_id"), col("pos"), (col("pos") + n - 1).as("_e"))
    rebuildWithoutSpans(all, cut, dirtyOnly = true)
  }

  /** Rebuild documents with the given [pos, _e] token spans removed:
    * merge spans to maximal islands, explode covered positions, LEFT
    * ANTI against the token stream, re-join survivors in order. Shared
    * by [[dupSpanCut]] and [[decontaminateCut]].
    *
    * With `dirtyOnly`, only docs WITH cuts pay the explode→anti-join→
    * re-assemble shuffle: untouched docs emit their normalized token
    * text per-row with NO shuffle at all. Right when dirty ≪ corpus
    * (decontamination: a quoted benchmark sentence is rare), because the
    * rebuild exchange then tracks the DIRTY volume — but the split costs
    * one extra corpus tokenize pass + two doc_id joins, so when most
    * docs carry cuts (pervasive boilerplate — span dedup's worst case)
    * the simple full rebuild is cheaper (measured: the dup-cut gate's
    * planted all-dirty corpus pays +70% under the split). Docs with no
    * cuts pass through unchanged; fully-cut docs stay as rows with
    * empty clean_text. */
  private def rebuildWithoutSpans(all: DataFrame, cut: DataFrame,
                                  dirtyOnly: Boolean = false): DataFrame = {
    val cutPos = mergeIslands(cut)
      .groupBy(col("doc_id"), col("_isl"))
      .agg(min("pos").as("_s"), max("_e").as("_me"))
      .select(col("doc_id"), explode(sequence(col("_s"), col("_me"))).as("pos"))
    val dirty = cut.select("doc_id").distinct()
    val dirtyAll =
      if (dirtyOnly) all.join(dirty, Seq("doc_id"), "left_semi") else all
    val posTok = dirtyAll.select(col("doc_id"), size(col("_t")).as("_n"),
      posexplode(col("_t")).as(Seq("pos", "tok")))
    val cleaned = posTok.join(cutPos, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(array_join(transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), " ").as("clean_text"),
        (first(col("_n")) - count(lit(1))).cast(LongType).as("n_cut"))
    // fully-cut docs (and empty docs) have no surviving tokens — keep
    // them with empty clean_text rather than dropping the row
    val rebuilt = dirtyAll
      .select(col("doc_id"), size(col("_t")).cast(LongType).as("_n0"))
      .join(cleaned, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_cut"), col("_n0")).as("n_cut"))
    if (!dirtyOnly) rebuilt
    else {
      val untouched = all.join(dirty, Seq("doc_id"), "left_anti")
        .select(col("doc_id"),
          array_join(col("_t"), " ").as("clean_text"),
          lit(0L).as("n_cut"))
      untouched.unionByName(rebuilt)
    }
  }
}
