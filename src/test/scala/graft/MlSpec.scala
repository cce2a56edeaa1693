package graft

import graft.core.{Tables, TempDir}
import graft.ml.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.streaming.Run
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Checkpoint
import org.apache.spark.sql.types.{BinaryType, LongType, StringType}

class MlSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = Tables(spark, sf, "documents")
  lazy val emb = Tables(spark, sf, "embeddings")

  // Column reference forms the fused kernels are pinned against below.

  /** The pure-Column form of Dedup's chained-xxhash window digests. */
  private def chainedXxhashCols(th: Column, w: Int): Column = {
    // n shifted windows combined pairwise with zip_with: lambda variables
    // are BOUND per element, so nothing re-evaluates the token array per
    // shingle (an element_at(th, i+k) lambda would go O(tokens²) — the
    // outer array expression is re-evaluated for every element).
    val m = size(th) - (w - 1)
    val windows = (1 to w).map(k => slice(th, lit(k), greatest(m, lit(0))))
    windows.reduce((a, b) => zip_with(a, b, (x, y) => xxhash64(x, y)))
  }

  /** The `%` MinHash UDF the fused kernel's Mersenne reduction replaced. */
  private def minhashSigModRef(numHashes: Int, seed: Long = 42L) = {
    val as = Dedup.hashParams(numHashes, seed).map(_._1).toArray
    val bs = Dedup.hashParams(numHashes, seed).map(_._2).toArray
    val P = 2147483647L
    udf { (hs: Array[Long]) =>
      if (hs == null) null
      else {
        val out = Array.fill(numHashes)(Long.MaxValue)
        hs.foreach { h =>
          val hp = ((h % P) + P) % P
          as.indices.foreach { j => val v = (hp * as(j) + bs(j)) % P; if (v < out(j)) out(j) = v }
        }
        out
      }
    }
  }

  /** The Column chain the fused LSH kernel replaced: the sorted distinct
    * shingle hashes, the `%` signature and the `hash(slice)` band keys. */
  private def lshChainCols(text: Column, bands: Int, rpb: Int, n: Int): Seq[Column] = {
    val th = transform(Dedup.tokens(text), t => xxhash64(t))
    val sh = sort_array(array_distinct(
      when(size(th) < n, array(xxhash64(th))).otherwise(chainedXxhashCols(th, n))))
    val sig = minhashSigModRef(bands * rpb)(sh)
    // a null signature had its band rows filtered out
    Seq(sh, sig, when(sig.isNotNull, transform(sequence(lit(0), lit(bands - 1)),
      i => hash(slice(sig, i * rpb + 1, lit(rpb))))))
  }

  /** The join form of Dedup.boundedBucketPairs the bucket aggregate replaced. */
  private def bucketPairsJoinRef(df: org.apache.spark.sql.DataFrame, idCol: String,
                                 keys: Seq[String], max: Int): org.apache.spark.sql.DataFrame = {
    val small = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("_bsz")).filter(col("_bsz") <= max)
      .select(keys.map(col): _*)
    val bounded = df.join(small, keys)
    bounded.select(keys.map(col) :+ col(idCol).as("id_a"): _*)
      .join(bounded.select(keys.map(col) :+ col(idCol).as("id_b"): _*), keys)
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
  }

  private def lmBucketOf(g: Column, buckets: Int): Column =
    pmod(conv(substring(md5(g.cast(StringType).cast(BinaryType)), 1, 8), 16, 10)
      .cast(LongType), lit(buckets.toLong))

  /** Column reference for TextAnalysis.dsirFeatBuckets (the pre-r20
    * explode shape, verbatim). */
  private def dsirFeatBucketsCols(text: Column, buckets: Int): Column =
    transform(concat(Dedup.tokens(text), Dedup.shingles(text, 2)),
      g => lmBucketOf(g, buckets))

  /** Column reference for TextAnalysis.lmBigramTriples (the pre-r20
    * explode shape, verbatim). */
  private def lmBigramBucketsCols(df: org.apache.spark.sql.DataFrame,
                                  idCol: String, textCol: String,
                                  buckets: Int)
      : org.apache.spark.sql.DataFrame =
    df.filter(size(Dedup.tokens(col(textCol))) >= 2)
      .select(col(idCol), explode(Dedup.shingles(col(textCol), 2)).as("_g"))
      .select(col(idCol), lmBucketOf(col("_g"), buckets).as("_bb"),
        lmBucketOf(substring_index(col("_g"), " ", 1), buckets).as("_b1"),
        lmBucketOf(substring_index(col("_g"), " ", -1), buckets).as("_b2"))

  test("fused chained-xxhash window digests are bit-identical to the Column form") {
    // the r20 fused loop (one UDF pass) must replay the w-1 chained
    // zip_with(xxhash64) reference EXACTLY — every dup-span digest and
    // shingle hash in the repo rides on it. Real corpus + edge cases:
    // doc shorter than w (empty result), exactly w, empty text, null text.
    val edge = Seq((900001L, "a b c"), (900002L, (1 to 15).map("t" + _).mkString(" ")),
      (900003L, ""), (900004L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val corpus = QueriesLlm.plantedCorpus(spark, sf).unionByName(edge)
    for (w <- Seq(2, 3, 5, 15)) {
      val th = Dedup.tokens(col("text"))
      val both = corpus.select(
        Dedup.windowDigests(th, w).as("fused"),
        chainedXxhashCols(transform(th, x => xxhash64(x)), w).as("ref"))
      val diff = both.filter(
        !(col("fused") <=> col("ref"))).count()
      assert(diff == 0L, s"w=$w: $diff rows differ between fused and Column digests")
    }
  }

  test("array_remove tokenizer equals the filter-lambda reference") {
    // r20: tokens() switched from an interpreted filter HOF to codegen'd
    // array_remove — identical because split can only emit "" non-tokens
    val edge = Seq((1L, " ,; leading"), (2L, "trailing . "), (3L, ""),
      (4L, null.asInstanceOf[String]), (5L, "..."), (6L, "ok"))
      .toDF("doc_id", "text")
    val corpus = QueriesLlm.plantedCorpus(spark, sf).unionByName(edge)
    val diff = corpus.select(
        Dedup.tokens(col("text")).as("a"),
        filter(split(lower(col("text")), "[^\\p{L}\\p{N}]+"),
          t => length(t) > 0).as("b"))
      .filter(!(col("a") <=> col("b"))).count()
    assert(diff == 0L, s"$diff rows differ between array_remove and filter tokenizers")
  }

  test("fused md5-bucket kernels are value-identical to the Column forms") {
    // dsir feature buckets, LM unigram buckets, LM bigram triples — the
    // r20 one-digest-pass UDFs vs the pre-r20 explode/md5-chain shapes,
    // on the real corpus plus short-doc edge cases (0 and 1 tokens hit
    // the shingle special rule: the space-joined token list is the ONE
    // shingle, so an empty doc buckets md5("")).
    val edge = Seq((900001L, "solo"), (900002L, ""), (900003L, " , "),
      (900004L, null.asInstanceOf[String]), (900005L, "two tokens"))
      .toDF("doc_id", "text")
    val corpus = QueriesLlm.plantedCorpus(spark, sf).unionByName(edge)
    val b = 10000
    val dsirDiff = corpus.select(
        TextAnalysis.dsirFeatBuckets(b)(Dedup.tokens(col("text"))).as("fused"),
        dsirFeatBucketsCols(col("text"), b).as("ref"))
      .filter(!(col("fused") <=> col("ref"))).count()
    assert(dsirDiff == 0L, s"$dsirDiff docs differ in dsir feature buckets")
    val triplesNew = TextAnalysis.lmBigramBuckets(corpus, "doc_id", "text", b)
    val triplesRef = lmBigramBucketsCols(corpus, "doc_id", "text", b)
    assert(triplesNew.exceptAll(triplesRef).isEmpty &&
      triplesRef.exceptAll(triplesNew).isEmpty,
      "lm bigram triple multisets differ between fused and Column forms")
    val uniDiff = corpus.select(
        TextAnalysis.tokenBuckets(b)(Dedup.tokens(col("text"))).as("fused"),
        transform(Dedup.tokens(col("text")),
          g => pmod(conv(substring(md5(g.cast("binary")), 1, 8), 16, 10)
            .cast("long"), lit(b.toLong))).as("ref"))
      .filter(!(col("fused") <=> col("ref"))).count()
    assert(uniDiff == 0L, s"$uniDiff docs differ in unigram buckets")
  }

  test("fused qualityScore kernel equals the sum of the four Column rules") {
    // the Column form the kernel replaced: every component rule is still
    // a public operator, so the reference is their banded sum
    def band(ok: Column): Column = when(ok, lit(0.25)).otherwise(lit(0.0))
    def columnScore(t: Column): Column =
      band(length(t).between(50, 20000)) + band(TextAnalysis.punctRatio(t) < 0.2) +
        band(TextAnalysis.stopwordRatio(t) > 0.05) +
        band(TextAnalysis.meanWordLength(t).between(2.0, 12.0))
    val words = Seq.tabulate(19)(i => s"w$i").mkString(" ")
    val edge = Seq(
      null, "", "     ", " \t ", "\tleading tab, then the words of a sentence",
      "\nleading newline and the rest of it", "\u000B\f\r\n", "trailing spaces of the  ",
      "İstanbul is the city", "İT İS THE İN THİNG", "ﬁ the ǅemal Ǆ ß ΣΑΣ",
      "東京は日本の首都です。the 東京", "𝒜𝒷 𝒸𝒹 and the 𝔄𝔅", "𝒜" * 49, "𝒜" * 50, "\tab cd", " ab cd ",
      "123 4567 89 0 the", "٣٤٥ ½ Ⅻ the 10", "nbsp\u00A0is\u2003not\u3000whitespace the",
      "a" * 49, "a" * 50, "the " * 12 + "ab", ("the cat " * 2500).take(20000),
      ("the cat " * 2500).take(20001), "abcd.", "ab cd", "abcdefghijkl mnopqrstuvwx",
      s"the $words", s"the $words w19", "!!!!", "the, the; the.")
    val edgeDf = edge.map(Tuple1(_)).toDF("text")
    val corpus = docs.select("text")
      .unionByName(QueriesLlm.plantedCorpus(spark, sf).select("text")).unionByName(edgeDf)
    val both = corpus.select(col("text"),
      TextAnalysis.qualityScore(col("text")).as("fused"), columnScore(col("text")).as("ref"))
    val diff = both.filter(!(col("fused") <=> col("ref"))).collect()
    assert(diff.isEmpty, s"${diff.length} docs differ, e.g. ${diff.take(5).mkString("; ")}")
    // the edge set reaches every score level, and null text scores 0.0
    val levels = edgeDf.select(TextAnalysis.qualityScore(col("text")).as("q"))
      .as[Double].collect().toSet
    assert(levels == Set(0.0, 0.25, 0.5, 0.75, 1.0), s"edge levels $levels")
    assert(Seq(Tuple1(null.asInstanceOf[String])).toDF("text")
      .select(TextAnalysis.qualityScore(col("text"))).as[Double].head() == 0.0)
    // the executed filter runs the kernel: no regex array building, no lambda
    val p = docs.filter(TextAnalysis.qualityScore(col("text")) >= 0.75)
      .queryExecution.executedPlan.toString.toLowerCase
    assert(!Seq("regexp", "split(", "lambda").exists(p.contains), s"Column form in the plan:\n$p")
  }

  test("minhash LSH finds planted near-duplicates with high recall") {
    val corpus = QueriesLlm.plantedCorpus(spark, sf)
    // ground truth: planted pairs whose EXACT jaccard is comfortably above
    // the LSH threshold (0.4); pairs near the threshold are legitimately
    // probabilistic (S-curve), so measure recall on jaccard >= 0.6.
    val sh = corpus.select(col("doc_id"), Dedup.shingleHashes(col("text")).as("sh"))
    val truth = sh.filter(col("doc_id") < 100000L).alias("a")
      .join(sh.filter(col("doc_id") >= 100000L).alias("b"),
        col("b.doc_id") === col("a.doc_id") + 100000L)
      .select(col("a.doc_id").as("id_a"),
        (size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
          size(array_union(col("a.sh"), col("b.sh"))).cast("double")).as("j"))
      .filter(col("j") >= 0.6)
      .select("id_a").as[Long].collect().toSet
    val pairs = Dedup.minhashLshPairs(corpus, "doc_id", "text",
        threshold = 0.4, bands = 32, rowsPerBand = 4)
      .filter(col("id_b") === col("id_a") + 100000L)
      .select("id_a").as[Long].collect().toSet
    val recall = (truth & pairs).size.toDouble / truth.size
    assert(truth.nonEmpty)
    assert(recall >= 0.95, s"recall $recall over ${truth.size} true pairs")
  }

  test("minhash signature approximates exact jaccard") {
    val corpus = QueriesLlm.plantedCorpus(spark, sf)
    val sig = corpus.select(col("doc_id"),
      Dedup.minhashSignature(col("text"), numHashes = 128).as("sig"),
      Dedup.shingleHashes(col("text")).as("sh"))
    val a = sig.filter(col("doc_id") < 100000L).select(
      col("doc_id").as("id"), col("sig").as("sig_a"), col("sh").as("sh_a"))
    val b = sig.filter(col("doc_id") >= 100000L).select(
      (col("doc_id") - 100000L).as("id"), col("sig").as("sig_b"), col("sh").as("sh_b"))
    val est = a.join(b, "id").select(
      (aggregate(zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, v) => acc + v).cast("double") / 128.0).as("est"),
      (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
        size(array_union(col("sh_a"), col("sh_b"))).cast("double")).as("exact"))
    val err = est.agg(avg(abs(col("est") - col("exact")))).as[Double].collect().head
    assert(err < 0.08, s"minhash estimator bias too high: $err")
  }

  test("minhashLshPairs: null, empty and 2-token docs stay singletons beside a real duplicate pair") {
    // a null text has no shingles: it gets no signature and no band rows
    // instead of failing the whole job inside the signature UDF
    val text = (1 to 40).map(i => s"word$i").mkString(" ")
    val docs = Seq((1L, text), (2L, text.replace("word20", "other")),
      (3L, null.asInstanceOf[String]), (4L, ""), (5L, "two tokens")).toDF("doc_id", "text")
    val got = Dedup.minhashLshPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(r => (r._1, r._2)).toSeq == Seq((1L, 2L)), s"pairs ${got.toSeq}")
    // the edit changes 3 of each doc's 38 3-grams: 35 shared of 41
    assert(got.head._3 == 35.0 / 41.0, s"jaccard ${got.head._3}")
  }

  test("sorted-merge Jaccard == size(array_intersect)/size(array_union), bit for bit; the pairs plan builds no hash sets") {
    val rnd = new scala.util.Random(20261019L)
    def randomSet(n: Int, range: Long): Seq[Long] =
      Seq.fill(n)(rnd.nextLong() % range).distinct.sorted
    val shared = randomSet(50, 1000L)
    val cases: Seq[(Seq[Long], Seq[Long])] = Seq(
      (Seq(1L, 3L, 5L), Seq(2L, 4L, 6L)),                  // disjoint
      (shared, shared),                                     // identical
      (Seq(7L), Seq(7L)), (Seq(7L), Seq(8L)),               // single elements
      (Seq.empty[Long], Seq(Long.MinValue, 0L, Long.MaxValue))) ++ // one side empty
      (1 to 200).map(_ => (randomSet(1 + rnd.nextInt(60), 80L),
        randomSet(1 + rnd.nextInt(60), 80L)))               // overlapping, negatives included
    val df = cases.toDF("a", "b")
      .select(Dedup.sortedJaccard(col("a"), col("b")).as("merge"),
        (size(array_intersect(col("a"), col("b"))).cast("double") /
          size(array_union(col("a"), col("b"))).cast("double")).as("sets"))
    df.as[(Double, Double)].collect().zip(cases).foreach { case ((m, h), c) =>
      assert(java.lang.Double.doubleToRawLongBits(m) == java.lang.Double.doubleToRawLongBits(h),
        s"merge $m != sets $h on $c")
    }
    // two empty sets: 0/0 in the kernel, NaN
    val empty = Seq((Seq.empty[Long], Seq.empty[Long])).toDF("a", "b")
      .select(Dedup.sortedJaccard(col("a"), col("b"))).as[Double].collect().head
    assert(empty.isNaN, s"empty sets gave $empty")
    val plan = Dedup.minhashLshPairs(QueriesLlm.plantedCorpus(spark, sf), "doc_id", "text")
      .queryExecution.optimizedPlan.toString
    Seq("array_intersect", "array_union").foreach(f => assert(!plan.contains(f), s"$f in the pairs plan"))
  }

  /** Texts beyond the ASCII fast path, and the short-text edge cases. */
  private val lshEdgeTexts: Seq[String] = Seq(null, "", "   ", "\t\n", "one", "two words",
    "  Lead, trailing!  ", "x1 2y Z3 0099 ab-cd_ef",
    "İstanbul İZMİR ısparta IŞIK ışık İ", "ΣΊΣΥΦΟΣ σίσυφος ΟΔΟΣ ΟΔΟΣ. Σ",
    "Straße STRASSE ß ẞ groß", "cafe\u0301 café nai\u0308ve naïve \u0301x",
    "中文分词 测试 日本語のテキスト 한국어 텍스트", "emoji 😀 test 👍🏽 ok 😀😀 a😀b",
    "digits ٠١٢٣ ٤٥٦ ۷۸۹ 123 ²³ ½", "ｆｕｌｌｗｉｄｔｈ ＡＢＣ １２３ abc",
    "non\u00a0breaking\u00a0space here\u2003em\u2009thin",
    "ASCII words then one é and more ASCII words after it")

  test("fused LSH kernel: shingle set, signature and band keys equal the Column chain bit for bit") {
    val corpus = QueriesLlm.plantedCorpus(spark, sf).select("text")
      .unionByName(lshEdgeTexts.toDF("text"))
    for ((bands, rpb, n) <- Seq((16, 4, 3), (32, 4, 3), (8, 2, 5))) {
      val k = Dedup.LshKernel(bands * rpb, rpb, n, 42L)
      // the three stages one by one, and whether the production entry
      // point (apply) gives the same row
      val fused = udf { (t: Array[Byte]) =>
        if (t == null) null
        else {
          val sh = k.shingles(k.tokenHashes(t))
          val sig = k.signature(sh)
          val row = k(t)
          (sh, sig, k.bandKeys(sig), row.sh.sameElements(sh) && row.bands.sameElements(k.bandKeys(sig)))
        }
      }
      val both = corpus.select(col("text"), fused(col("text").cast(BinaryType)).as("f"))
      assert(both.filter(!col("f._4")).count() == 0L, "apply differs from its stages")
      val cmp = both
        .select(Seq(col("text"), col("f._1").as("sh"), col("f._2").as("sig"), col("f._3").as("keys")) ++
          lshChainCols(col("text"), bands, rpb, n).zip(Seq("sh_r", "sig_r", "keys_r")).map {
            case (c, a) => c.as(a) }: _*)
      val diff = cmp.filter(!(col("sh") <=> col("sh_r")) || !(col("sig") <=> col("sig_r")) ||
        !(col("keys") <=> col("keys_r"))).select("text").as[String].collect()
      assert(diff.isEmpty, s"bands=$bands rpb=$rpb n=$n: ${diff.length} texts differ, e.g. ${diff.take(3).toSeq}")
      assert(both.count() > lshEdgeTexts.size)
    }
  }

  test("Mersenne reduction equals % at the boundaries; the signature UDF equals the % form") {
    val P = 2147483647L
    val params = Dedup.hashParams(64, 42L)
    val reachable = (P - 1) * params.map(_._1).max + params.map(_._2).max
    val rnd = new scala.util.Random(31L)
    val xs = Seq(0L, 1L, P - 1, P, P + 1, 2 * P - 1, 2 * P, 1L << 31, 1L << 32, 1L << 62,
      (P - 1) * (P - 1) + (P - 1), reachable, Long.MaxValue) ++
      Seq.fill(10000)(rnd.nextLong() & Long.MaxValue) ++ Seq.fill(10000)(rnd.nextLong() & ((1L << 62) - 1))
    xs.foreach(x => assert(Dedup.modP(x) == x % P, s"modP($x) = ${Dedup.modP(x)}, % gives ${x % P}"))
    // shingle hashes whose residues are 0 and P - 1, so a_j·hp + b_j reaches
    // its largest value, beside the extremes and random values
    val hs = Seq(Seq(P), Seq(2 * P - 1, P - 1, -1L), Seq(0L, -P, Long.MinValue, Long.MaxValue),
      Seq(-2 * P + 1, 3 * P, P * P), Seq.fill(300)(rnd.nextLong()), Seq.empty[Long])
    val df = hs.toDF("hs").select(Dedup.minhashSigUdf(64)(col("hs")).as("m"),
      minhashSigModRef(64)(col("hs")).as("r"))
    assert(df.filter(!(col("m") <=> col("r"))).count() == 0L)
  }

  test("bounded bucket aggregate: pairs equal the join form; a bucket of exactly the cap is kept, one more is dropped") {
    val max = 5
    val rnd = new scala.util.Random(77L)
    // band 0: one bucket per size 1..max+2; band 1: a bucket holding one
    // id three times; band 2: seeded random buckets of every size
    val sized = (1 to max + 2).flatMap(sz => (0 until sz).map(i => (0, sz.toLong, sz * 100L + i)))
    val dups = Seq((1, 9L, 7L), (1, 9L, 7L), (1, 9L, 7L), (1, 9L, 8L))
    val random = Seq.fill(400)((2, rnd.nextInt(120).toLong, 10000L + rnd.nextInt(300)))
    val bands = (sized ++ dups ++ random).toDF("_band", "_bkey", "_id")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.as[(Long, Long)].collect().toSet
    val got = pairs(Dedup.boundedBucketPairs(bands, "_id", Seq("_band", "_bkey"), max))
    assert(got == pairs(bucketPairsJoinRef(bands, "_id", Seq("_band", "_bkey"), max)))
    // the bucket of exactly max rows pairs; the one of max + 1 does not
    assert(got.contains((500L, 504L)) && !got.exists(_._1 / 100 == max + 1))
    assert(got.contains((7L, 8L)) && !got.contains((7L, 7L)))
    assert(!got.exists(_._1 == 100L), "a singleton bucket paired")
    // other id types keep their type; non-integral ids take the join form
    val ints = bands.select(col("_band"), col("_bkey"), col("_id").cast("int").as("_id"))
    val intPairs = Dedup.boundedBucketPairs(ints, "_id", Seq("_band", "_bkey"), max)
    assert(intPairs.schema.map(_.dataType) == Seq(org.apache.spark.sql.types.IntegerType,
      org.apache.spark.sql.types.IntegerType))
    assert(intPairs.as[(Int, Int)].collect().map { case (a, b) => (a.toLong, b.toLong) }.toSet == got)
    val strs = bands.select(col("_band"), col("_bkey"), format_string("%05d", col("_id")).as("_id"))
    assert(Dedup.boundedBucketPairs(strs, "_id", Seq("_band", "_bkey"), max).as[(String, String)]
      .collect().map { case (a, b) => (a.toLong, b.toLong) }.toSet == got)
  }

  test("bounded id collector: no buffer holds more than the cap plus one ids through any merge") {
    val rnd = new scala.util.Random(5L)
    for (max <- Seq(1, 3, 8, 50); _ <- 0 until 40) {
      val agg = new Dedup.BoundedIds(max)
      val ids = Seq.fill(rnd.nextInt(3 * max + 2))(
        if (rnd.nextInt(10) == 0) null else java.lang.Long.valueOf(rnd.nextInt(2 * max + 1).toLong))
      def held(b: Dedup.IdBuf): Dedup.IdBuf = {
        assert(b.len <= max + 1 && b.ids.length <= max + 1, s"max=$max holds ${b.len} (capacity ${b.ids.length})")
        b
      }
      // partial buffers of random extent, merged in random order
      var parts = ids.grouped(1 + rnd.nextInt(max + 1)).map(_.foldLeft(agg.zero)((b, id) => held(agg.reduce(b, id)))).toVector
      while (parts.size > 1) {
        val i = rnd.nextInt(parts.size - 1)
        parts = parts.patch(i, Seq(held(agg.merge(parts(i), parts(i + 1)))), 2)
      }
      val out = agg.finish(parts.headOption.getOrElse(agg.zero))
      val expect = if (ids.size > max) Seq.empty[Long] else ids.filter(_ != null).map(_.longValue).distinct.sorted
      assert(out.toSeq == expect, s"max=$max ids=$ids")
    }
  }

  test("simhash: near-dup texts have small hamming distance, unrelated large") {
    val df = Seq(
      ("a", "the quick brown fox jumps over the lazy dog in the morning sun"),
      ("b", "the quick brown fox jumps over the lazy dog in the evening sun"),
      ("c", "completely different words about database engines and query planners")
    ).toDF("id", "text")
    val sigs = df.select(col("id"), Dedup.simhash(col("text")).as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(sigs("a"), sigs("b")) <= 12)
    assert(ham(sigs("a"), sigs("c")) > 12)
  }

  test("simhashPairs: pair set EQUALS exact all-pairs Hamming at declared radius") {
    // Pigeonhole guarantee: with blocks > maxHamming, recall is exact, and
    // the Hamming verification makes precision exact — so the LSH output
    // must equal brute-force all-pairs at the same radius.
    val corpus = QueriesLlm.plantedCorpus(spark, sf)
    val sigs = corpus.select(col("doc_id").as("id"), Dedup.simhash(col("text")).as("s"))
    val truth = sigs.alias("a").join(sigs.alias("b"), col("a.id") < col("b.id"))
      .withColumn("h", bit_count(col("a.s").bitwiseXOR(col("b.s"))))
      .filter(col("h") <= 7)
      .select(col("a.id"), col("b.id")).as[(Long, Long)].collect().toSet
    val got = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty, "planted corpus should contain Hamming<=7 pairs")
    assert(got == truth, s"missing=${(truth -- got).take(5)} extra=${(got -- truth).take(5)}")
  }

  test("simhashPairs rejects radii the blocking cannot guarantee") {
    val df = Seq((1L, "a")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 32)
    }
  }

  test("decontaminate flags exactly the docs sharing an eval n-gram, with counts") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),   // contains eval 5-gram
      (2L, "one two three four five six"),           // no overlap
      (3L, "alpha beta gamma delta epsilon eta"),    // same leading 5-gram
      (4L, "zeta alpha beta gamma delta epsilon")    // shifted: one eval gram
    ).toDF("doc_id", "text")
    val evalSet = Seq("alpha beta gamma delta epsilon zeta").toDF("text")
    val got = Dedup.decontaminate(train, evalSet, "doc_id", "text", n = 5)
      .as[(Long, Long)].collect().toMap
    // eval 5-grams: {a b g d e, b g d e z}. doc1 hits both, doc3 hits the
    // first, doc4's second window is "a b g d e" (its first starts at zeta
    // and matches nothing), doc2 is clean and absent.
    assert(got === Map(1L -> 2L, 3L -> 1L, 4L -> 1L))
  }

  test("paragraph dedup keeps one winner per paragraph digest, ordered deterministically") {
    val df = Seq(
      (1L, "intro one\n\nshared footer\n\nbody one"),
      (2L, "intro two\n\nshared footer\n\nbody two"),
      (3L, "intro one\n\n\n\nbody three") // dup of doc1's intro + empty para
    ).toDF("doc_id", "text")
    val got = TextAnalysis.paragraphDedup(df, "doc_id", "text")
      .select("doc_id", "para_idx", "para").as[(Long, Int, String)].collect().toSet
    assert(got === Set(
      (1L, 0, "intro one"), (1L, 1, "shared footer"), (1L, 2, "body one"),
      (2L, 0, "intro two"), (2L, 2, "body two"),
      (3L, 2, "body three"))) // doc3's intro lost to doc1 (lower id); empty para dropped
  }

  test("unigram log-prob matches hand-computed values") {
    val df = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val got = TextAnalysis.unigramLogProb(df, "doc_id", "text")
      .select("doc_id", "avg_logprob", "n_tokens").as[(Long, Double, Long)]
      .collect().map { case (id, lp, n) => id -> ((lp * 1e9).round / 1e9, n) }.toMap
    // tf: a=2 b=2 c=1, total=5. doc1 = avg(log10(.4)×3) = log10(.4);
    // doc2 = (log10(.4)+log10(.2))/2
    def r(x: Double) = (x * 1e9).round / 1e9
    assert(got(1L) === ((r(math.log10(0.4)), 3L)))
    assert(got(2L) === ((r((math.log10(0.4) + math.log10(0.2)) / 2), 2L)))
  }

  test("stratified sample: deterministic, rate-accurate, stratum-scoped") {
    val df = (1L to 4000L).map(i => (i, if (i % 2 == 0) "a" else "b")).toDF("id", "src")
    val s1 = TextAnalysis.stratifiedSample(df, "id", "src", Map("a" -> 0.3, "b" -> 0.8))
      .select("id").as[Long].collect().toSet
    val s2 = TextAnalysis.stratifiedSample(df, "id", "src", Map("a" -> 0.3, "b" -> 0.8))
      .select("id").as[Long].collect().toSet
    assert(s1 === s2) // reproducible — identical sample on re-run
    val aRate = s1.count(_ % 2 == 0) / 2000.0
    val bRate = s1.count(_ % 2 == 1) / 2000.0
    assert(math.abs(aRate - 0.3) < 0.05, s"a rate $aRate")
    assert(math.abs(bRate - 0.8) < 0.05, s"b rate $bRate")
    // defaultRate 0.0 drops unknown strata entirely
    val s3 = TextAnalysis.stratifiedSample(df, "id", "src", Map("a" -> 1.0))
      .select("src").distinct().as[String].collect().toSeq
    assert(s3 === Seq("a"))
    // different salt → different (but still deterministic) sample
    val s4 = TextAnalysis.stratifiedSample(df, "id", "src", Map("a" -> 0.3, "b" -> 0.8),
      salt = "other").select("id").as[Long].collect().toSet
    assert(s4 !== s1)
  }

  test("sequence packing: per-shard budget law, contiguous pack ids, deterministic") {
    val rnd = new scala.util.Random(7)
    val df = (1L to 500L).map(i => (i, 1L + rnd.nextInt(100))).toDF("id", "toks")
    val packed = TextAnalysis.packSequences(df, "id", "toks", budget = 256, shards = 4)
      .select("id", "shard", "pack_id", "toks")
      .as[(Long, Long, Long, Long)].collect()
    assert(packed.length == 500)
    val byPack = packed.groupBy(p => (p._2, p._3))
    byPack.foreach { case ((shard, pack), docs) =>
      val total = docs.map(_._4).sum
      val lastDoc = docs.maxBy(_._1)._4
      // cumulative bucketing: only the boundary-crossing doc may overflow
      assert(total - lastDoc < 256, s"pack ($shard,$pack) sums $total")
    }
    // pack ids contiguous from 0 within each shard
    packed.groupBy(_._2).foreach { case (shard, docs) =>
      val ids = docs.map(_._3).distinct.sorted.toSeq
      assert(ids == (0L until ids.length), s"shard $shard pack ids not contiguous")
    }
    // deterministic on re-run
    val again = TextAnalysis.packSequences(df, "id", "toks", budget = 256, shards = 4)
      .select("id", "pack_id").as[(Long, Long)].collect().toMap
    assert(packed.map(p => p._1 -> p._3).toMap === again)
  }

  test("exact dedup keeps one deterministic winner per distinct text") {
    val df = Seq((1L, "same"), (2L, "same"), (3L, "other")).toDF("doc_id", "text")
    val out = Dedup.exact(df, "text", col("doc_id"))
    assert(out.select("doc_id").as[Long].collect().toSet == Set(1L, 3L))
  }

  test("brute-force cosine top-k: self is rank 1 with cosine 1") {
    val q = emb.filter(col("vec_id") < 3)
    val top = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, "vec_id", "embedding", 3)
    val self = top.filter(col("rank") === 1)
      .select("query_id", "vec_id", "cosine").collect()
    assert(self.forall(r => r.getLong(0) == r.getLong(1)))
    assert(self.forall(r => math.abs(r.getDouble(2) - 1.0) < 1e-9))
  }

  test("LSH ANN achieves reasonable recall vs brute force") {
    val q = emb.filter(col("vec_id") < 10)
    val k = 5
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, "vec_id", "embedding", k)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(emb, "vec_id", "embedding", 64, q, "vec_id", "embedding", k,
        planesPerTable = 8, tables = 8)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // random embeddings = worst case for LSH; still expect well above chance
    assert(recall >= 0.3, s"LSH recall $recall")
  }

  test("LSH ANN on clustered embeddings reaches recall >= 0.9 vs exact top-k") {
    // Planted neighborhoods: the geometry LSH is designed for. 10 gaussian
    // cluster centers, 40 members each with small noise; queries are fresh
    // points near the centers. Exact top-k neighbors of a query are its
    // cluster-mates — hyperplane LSH must recover >= 90% of them.
    val rnd = new scala.util.Random(42)
    val dim = 64
    val centers = Array.fill(10, dim)(rnd.nextGaussian().toFloat)
    def near(c: Array[Float]): Seq[Float] =
      c.map(x => x + 0.08f * rnd.nextGaussian().toFloat).toSeq
    val corpus = (0 until 400).map(i => (i.toLong, near(centers(i % 10))))
      .toDF("vec_id", "embedding")
    val queries = (0 until 30).map(i => ((1000 + i).toLong, near(centers(i % 10))))
      .toDF("vec_id", "embedding")
    val k = 10
    val exact = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
        queries, "vec_id", "embedding", k)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(corpus, "vec_id", "embedding", dim,
        queries, "vec_id", "embedding", k, planesPerTable = 8, tables = 8)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"clustered LSH recall $recall")
  }

  test("IVF ANN on clustered embeddings reaches recall >= 0.9 vs exact top-k") {
    // Same planted-neighborhood fixture as the LSH gate: 10 gaussian
    // centers, 40 members each, queries near the centers. With 10 true
    // clusters and 12 cells / 4 probes the right inverted lists must be
    // probed for >= 90% of each query's cluster-mates.
    val rnd = new scala.util.Random(42)
    val dim = 64
    val centers = Array.fill(10, dim)(rnd.nextGaussian().toFloat)
    def near(c: Array[Float]): Seq[Float] =
      c.map(x => x + 0.08f * rnd.nextGaussian().toFloat).toSeq
    val corpus = (0 until 400).map(i => (i.toLong, near(centers(i % 10))))
      .toDF("vec_id", "embedding")
    val queries = (0 until 30).map(i => ((1000 + i).toLong, near(centers(i % 10))))
      .toDF("vec_id", "embedding")
    val k = 10
    val exact = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
        queries, "vec_id", "embedding", k)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.ivfTopK(corpus, "vec_id", "embedding", dim,
        queries, "vec_id", "embedding", k, nCells = 12, nProbe = 4)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"clustered IVF recall $recall")
    // hash-SAMPLED training (the 100 TB path: centroids from a 1/2 sample,
    // never a full corpus pass) must hold the same recall bar
    val sampled = Similarity.ivfTopK(corpus, "vec_id", "embedding", dim,
        queries, "vec_id", "embedding", k, nCells = 12, nProbe = 4, trainMod = 2)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val sampledRecall = (exact & sampled).size.toDouble / exact.size
    assert(sampledRecall >= 0.9, s"sampled-training IVF recall $sampledRecall")
  }

  test("materialized IVF index: partition-pruned probe matches the in-memory path") {
    val dir = TempDir("mlspec_ivf").toString
    val queries = emb.filter(col("vec_id") < 8)
    Similarity.ivfWriteIndex(emb, "vec_id", "embedding", 64, dir,
      nCells = 16, iters = 4, trainMod = 2)
    val indexed = Similarity.ivfTopKIndexed(spark, dir, queries, "vec_id", "embedding",
      k = 5, nProbe = 4)
    // identical candidates + ranking to the in-memory form on the SAME
    // centroids (ivfCentroids is deterministic, so parameters pin them)
    val inMem = Similarity.ivfTopK(emb, "vec_id", "embedding", 64,
      queries, "vec_id", "embedding", k = 5, nCells = 16, nProbe = 4, trainMod = 2)
    val a = indexed.select("query_id", "vec_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val b = inMem.select("query_id", "vec_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(a == b, s"indexed vs in-memory IVF divergence: ${(a diff b).take(5)} / ${(b diff a).take(5)}")
    // the probe must prune at the SCAN: only the probed _cell= partitions
    // are read (PartitionFilters on the partition column, not a post-scan
    // filter over all 16 directories)
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("_cell"),
      s"no partition pruning on _cell in:\n$plan")
    val pf = "PartitionFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    assert(pf.contains("_cell"), s"PartitionFilters does not constrain _cell: $pf")
  }

  test("stream-built IVF index: batch-equal content, batch answers, compaction restores 1 file/cell") {
    // the stream_ann_ivf_idx / llm_ann_ivf_idx_compact trust chain:
    // (a) the streamed partitionBy(_cell) append holds EXACTLY the
    // rows batch tagging would write (frozen bit-deterministic model,
    // row-local assignment — order/micro-batching cannot move a cell);
    // (b) the pruned read over it serves llm_ann_ivf_q's rows verbatim
    // (the shared-oracle justification); (c) compaction rewrites to
    // one file per cell without touching values.
    val cents = QueriesLlm.annCentroidsQ(spark, sf)
    val idx = QueriesLlm.streamIvfIndexDirQ(spark, sf)
    val got = spark.read.parquet(s"$idx/vectors").select("vec_id", "_cell")
      .as[(Long, Int)].collect().toSet
    val assign = Similarity.assignCellQ(cents)
    val expect = emb.select(col("vec_id"),
        assign(Similarity.quantizeVec(col("embedding"), 1048576.0)).as("_cell"))
      .as[(Long, Int)].collect().toSet
    assert(got == expect, s"streamed index content != batch tagging " +
      s"(${got.size} vs ${expect.size} rows)")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val batchTop = canon(QueriesLlm.queries("llm_ann_ivf_q")(spark, sf))
    val streamTop = canon(QueriesLlm.queries("stream_ann_ivf_idx")(spark, sf))
    assert(streamTop == batchTop, "streamed index does not serve the batch answers")
    val cidx = QueriesLlm.compactIvfIndexDirQ(spark, sf)
    val compactTop = canon(QueriesLlm.queries("llm_ann_ivf_idx_compact")(spark, sf))
    assert(compactTop == batchTop, "compacted index does not serve the batch answers")
    // the STREAMING serve path (queries micro-batched through
    // foreachBatch against the standing index) returns the batch rows
    // verbatim — micro-batch boundaries cannot move an independent query
    val serveTop = canon(QueriesLlm.queries("stream_ann_serve")(spark, sf))
    assert(serveTop == batchTop, "streaming serve does not return the batch answers")
    // layout: every compacted cell dir holds exactly ONE parquet file;
    // the streamed source holds MORE total fragments (2 micro-batches)
    def cellFiles(root: String): Map[String, Int] = {
      val d = new java.io.File(s"$root/vectors")
      d.listFiles().filter(f => f.isDirectory && f.getName.startsWith("_cell="))
        .map(cd => cd.getName ->
          cd.listFiles().count(f => f.getName.endsWith(".parquet"))).toMap
    }
    val cf = cellFiles(cidx)
    assert(cf.nonEmpty && cf.values.forall(_ == 1),
      s"compacted layout not 1 file/cell: $cf")
    assert(cellFiles(idx).values.sum > cf.values.sum,
      "streamed index has no fragmentation to reclaim — the compaction spec is vacuous")
  }

  test("materialized QUANTIZED IVF index: pruned probe == in-memory ivfTopKQ, flat and hier") {
    // the llm_ann_ivf_idx_q/_hq trust chain: integer training is
    // bit-deterministic, so equal parameters pin equal centroids; the
    // indexed read must then produce EXACTLY the in-memory rows (that
    // equality is what lets the idx gates share the ivfTopKQ oracles)
    // while the scan prunes to the probed `_cell=` partitions
    val queries = emb.filter(col("vec_id") < 8)
    for (cells <- Seq(16, 64)) { // flat-tagged and hier-tagged layouts
      val dir = TempDir(s"mlspec_ivfq$cells").toString
      Similarity.ivfWriteIndexQ(emb, "vec_id", "embedding", 64, dir,
        nCells = cells, iters = 4, trainMod = 2)
      val indexed = Similarity.ivfTopKIndexedQ(spark, dir, queries,
        "vec_id", "embedding", k = 5, nProbe = 4)
      val inMem = Similarity.ivfTopKQ(emb, "vec_id", "embedding", 64,
        queries, "vec_id", "embedding", k = 5, nCells = cells, nProbe = 4,
        trainMod = 2)
      val a = indexed.select("query_id", "vec_id", "dist2", "rank")
        .as[(Long, Long, Long, Int)].collect().toSet
      val b = inMem.select("query_id", "vec_id", "dist2", "rank")
        .as[(Long, Long, Long, Int)].collect().toSet
      assert(a == b,
        s"$cells cells: indexed vs in-memory divergence: ${(a diff b).take(5)} / ${(b diff a).take(5)}")
      val plan = indexed.queryExecution.executedPlan.toString
      val pf = "PartitionFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
      assert(pf.contains("_cell"), s"$cells cells: PartitionFilters does not constrain _cell: $pf")
    }
  }

  test("IVF ANN retrieves the source of perturbed near-duplicate queries") {
    val perturbed = emb.filter(col("vec_id") < 50)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i % 7 === 0, x * 1.02f + lit(0.005f)).otherwise(x)).as("embedding"))
    val res = Similarity.ivfTopK(emb, "vec_id", "embedding", 64,
      perturbed, "vec_id", "embedding", k = 5, nCells = 16, nProbe = 4)
    val hits = res.filter(col("vec_id") === col("query_id") - 100000L)
      .select("query_id").distinct().count()
    // the perturbed twin lands in (or right next to) the source's cell;
    // 4/16 probes must recover the source for >= 47/50 queries
    assert(hits >= 47, s"IVF source-retrieval recall $hits/50")
  }

  // ------------------------------------------------------------------
  // Exact-baseline precision/recall gates for the six no-oracle rows
  // (r9 verdict task 5): each pinned gate query is compared against the
  // EXACT all-pairs / top-k answer computed independently at the gate
  // SF, so the pins are no longer self-referential hashes.
  private val gateSf = "/root/testdata/sf0.01"

  test("llm_minhash_pairs: precision exact, recall >= 0.9 vs all-pairs Jaccard at the gate SF") {
    val corpus = QueriesLlm.plantedCorpus(spark, gateSf)
    val sh = Checkpoint.lazily(corpus.select(col("doc_id"), Dedup.shingleHashes(col("text")).as("sh")))
    // exact ALL-pairs Jaccard (≈500k pairs at sf0.01) — the ground truth
    val exact = sh.alias("a").join(sh.alias("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        (size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
          size(array_union(col("a.sh"), col("b.sh"))).cast("double")).as("j"))
      .filter(col("j") >= 0.4)
      .select("id_a", "id_b", "j").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    val got = QueriesLlm.queries("llm_minhash_pairs")(spark, gateSf)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    // PRECISION is exact by construction (candidates verify with exact
    // Jaccard): every reported pair must be in the exact set with the
    // same (rounded) similarity
    val falsePos = got.filter { case (k, _) => !exact.contains(k) }
    assert(falsePos.isEmpty, s"pairs below threshold reported: ${falsePos.take(5)}")
    got.foreach { case (k, j) =>
      assert(math.abs(j - exact(k)) < 1e-6, s"$k reported $j exact ${exact(k)}") }
    // RECALL vs the exact set: banding is probabilistic near the
    // threshold (S-curve), so measure above it — and demand perfection
    // comfortably above
    def recall(lo: Double): Double = {
      val t = exact.filter(_._2 >= lo)
      (t.keySet & got.keySet).size.toDouble / t.size
    }
    assert(exact.count(_._2 >= 0.6) > 50, "ground truth too small to gate on")
    assert(recall(0.6) >= 0.9, s"recall@0.6 = ${recall(0.6)}")
    assert(recall(0.8) == 1.0, s"recall@0.8 = ${recall(0.8)}")
  }

  test("llm_simhash_pairs: gate output EQUALS exact all-pairs Hamming at the gate SF") {
    val corpus = QueriesLlm.plantedCorpus(spark, gateSf)
    val sigs = Checkpoint.lazily(corpus.select(col("doc_id").as("id"), Dedup.simhash(col("text")).as("s")))
    val truth = sigs.alias("a").join(sigs.alias("b"), col("a.id") < col("b.id"))
      .withColumn("h", bit_count(col("a.s").bitwiseXOR(col("b.s"))))
      .filter(col("h") <= 7)
      .select(col("a.id"), col("b.id"), col("h")).as[(Long, Long, Int)].collect().toSet
    val got = QueriesLlm.queries("llm_simhash_pairs")(spark, gateSf)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
    assert(truth.size > 100, "ground truth too small to gate on")
    assert(got == truth, // pigeonhole recall + full verification = exact
      s"missing=${(truth -- got).take(5)} extra=${(got -- truth).take(5)}")
  }

  test("llm_embed_pairs: precision exact, recall >= 0.95 vs all-pairs cosine at the gate SF") {
    val embG = Tables(spark, gateSf, "embeddings").select("vec_id", "embedding")
    val perturbed = embG.select((col("vec_id") + 100000L).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        when(i === 0, x * 1.05f + 0.01f).otherwise(x)).as("embedding"))
    val all = Checkpoint.lazily(embG.unionByName(perturbed)
      .select(col("vec_id"), col("embedding")))
    val exact = all.alias("a").join(all.alias("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        graft.functions.Blob.cosineSimilarity(col("a.embedding"), col("b.embedding")).as("c"))
      .filter(col("c") >= 0.95)
      .select("id_a", "id_b", "c").as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    val got = QueriesLlm.queries("llm_embed_pairs")(spark, gateSf)
      .select("id_a", "id_b", "cosine").as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    val falsePos = got.filter { case (k, _) => !exact.contains(k) }
    assert(falsePos.isEmpty, s"pairs below threshold reported: ${falsePos.take(5)}")
    got.foreach { case (k, c) =>
      assert(math.abs(c - exact(k)) < 1e-6, s"$k reported $c exact ${exact(k)}") }
    assert(exact.size >= 400, "ground truth too small to gate on")
    val rec = (exact.keySet & got.keySet).size.toDouble / exact.size
    assert(rec >= 0.95, s"recall $rec over ${exact.size} exact pairs")
  }

  test("semantic-dedup composition: LSH-pair clusters match exact-pair clusters >= 95%") {
    // the RESOLUTION stage (connectedComponents) composed with the
    // PROBABILISTIC pair generator: clusters from LSH embedding pairs
    // must agree with clusters from exact all-pairs cosine on ~all
    // nodes (the generator's recall bound is the only divergence source)
    val embG = Tables(spark, gateSf, "embeddings").select("vec_id", "embedding")
    val perturbed = embG.select((col("vec_id") + 100000L).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        when(i === 0, x * 1.05f + 0.01f).otherwise(x)).as("embedding"))
    val all = Checkpoint.lazily(embG.unionByName(perturbed))
    val nodes = all.select(col("vec_id").as("node"))
    val exactPairs = all.alias("a").join(all.alias("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        graft.functions.Blob.cosineSimilarity(col("a.embedding"), col("b.embedding")).as("c"))
      .filter(col("c") >= 0.95).select("id_a", "id_b")
    val lshPairs = QueriesLlm.queries("llm_embed_pairs")(spark, gateSf)
      .select("id_a", "id_b")
    val exactCc = graft.ml.Dedup.connectedComponents(nodes, exactPairs)
      .as[(Long, Long)].collect().toMap
    val lshCc = graft.ml.Dedup.connectedComponents(nodes, lshPairs)
      .as[(Long, Long)].collect().toMap
    assert(exactCc.keySet == lshCc.keySet)
    val agree = exactCc.count { case (n, l) => lshCc(n) == l }
    val frac = agree.toDouble / exactCc.size
    assert(frac >= 0.95, s"cluster agreement $frac over ${exactCc.size} nodes")
    // duplicates exist in the planted corpus: some cluster is non-trivial
    assert(exactCc.values.groupBy(identity).exists(_._2.size > 1))
  }

  test("llm_ann_lsh: recall vs the exact top-k at the gate SF; scores exact where retrieved") {
    val exact = QueriesLlm.queries("llm_cosine_topk")(spark, gateSf)
      .select("query_id", "vec_id", "cosine").as[(Long, Long, Double)].collect()
      .map { case (q, v, c) => (q, v) -> c }.toMap
    val got = QueriesLlm.queries("llm_ann_lsh")(spark, gateSf)
      .select("query_id", "vec_id", "cosine").as[(Long, Long, Double)].collect()
      .map { case (q, v, c) => (q, v) -> c }.toMap
    // every retrieved (query, vec) the exact set also contains must carry
    // the identical cosine — approximation affects WHICH candidates are
    // seen, never how they are scored
    (got.keySet & exact.keySet).foreach { k =>
      assert(math.abs(got(k) - exact(k)) < 1e-6, s"$k scored ${got(k)} exact ${exact(k)}") }
    // self-hit floor: every query must retrieve itself at cosine 1
    (0L until 5L).foreach(q => assert(got.contains((q, q)), s"query $q missed itself"))
    val rec = (got.keySet & exact.keySet).size.toDouble / exact.size
    // driver embeddings are near-random — LSH's documented worst case
    // (measured 0.32 at the gate parameters); the structured-recall
    // >= 0.9 gates live on the clustered fixtures above
    assert(rec >= 0.25, s"ANN-LSH recall vs exact top-k: $rec")
  }

  test("llm_ann_ivf: recall vs the exact top-k at the gate SF; scores exact where retrieved") {
    val exact = QueriesLlm.queries("llm_cosine_topk")(spark, gateSf)
      .select("query_id", "vec_id", "cosine").as[(Long, Long, Double)].collect()
      .map { case (q, v, c) => (q, v) -> c }.toMap
    val got = QueriesLlm.queries("llm_ann_ivf")(spark, gateSf)
      .select("query_id", "vec_id", "cosine").as[(Long, Long, Double)].collect()
      .map { case (q, v, c) => (q, v) -> c }.toMap
    (got.keySet & exact.keySet).foreach { k =>
      assert(math.abs(got(k) - exact(k)) < 1e-6, s"$k scored ${got(k)} exact ${exact(k)}") }
    (0L until 5L).foreach(q => assert(got.contains((q, q)), s"query $q missed itself"))
    val rec = (got.keySet & exact.keySet).size.toDouble / exact.size
    assert(rec >= 0.4, s"ANN-IVF recall vs exact top-k: $rec")
  }

  test("no-oracle gate queries pin exact result-set hashes at the gate SF") {
    // Rows the driver could only rows-only-check (no SQL oracle for
    // banded/probabilistic plans) are DETERMINISTIC under their fixed
    // seeds: pin the exact sorted result set by hash so a banding/probing
    // regression cannot hide behind a stable row count (round-5 verdict
    // #8). Testdata is the driver's seed-42 set; if a future round
    // regenerates it, re-pin from this test's info() lines.
    // r16 note: llm_langid, llm_embed_pairs and llm_ann_lsh have since
    // GRADUATED to full DuckDB oracles (md5/embedded-constant replays);
    // their pins stay as an extra same-engine determinism gate.
    val dir = "/root/testdata/sf0.01"
    val pins = Map(
      "llm_minhash_pairs" -> "3b6805c9a3d973a0", // 568 pairs
      "llm_simhash_pairs" -> "333c84bfffc3b535", // 1318 pairs
      "llm_embed_pairs" -> "4aa21e3beb1c1e23",   // 500 pairs
      "llm_langid" -> "e92e8aca52412e6d",        // 500 rows
      "llm_ann_lsh" -> "60e22eb74f82a6f7",       // 18 rows
      "llm_ann_ivf" -> "ef16fe676934cb28",       // 25 rows
      "llm_audiohash_pairs" -> "da20d0fb8b2743ac", // 500 planted gain twins
      "llm_phash_pairs" -> "ae9b60668097b37a",   // 500 planted brightness twins
      // the scale-form radius (16-bit blocks): pinned independently of
      // radius 7 (a twin pairing only via an 8-bit block would drop
      // out) — the pins COINCIDE at this SF because every planted twin
      // measures hamming ≤ 3 and neither radius admits a false pair
      "llm_phash_pairs_r3" -> "ae9b60668097b37a",
      "llm_vhash_pairs" -> "4f33437bda244558",   // 500 planted re-render twins
      "llm_phash_resolve" -> "19bd2cf41155ef3a", // 1000 rows, 500 clusters
      // the streaming twin shares the batch pin VERBATIM: pair emission
      // is symmetric (second arrival triggers), so the set is
      // arrival-order independent — no ordering fixture needed
      "stream_phash_pairs" -> "ae9b60668097b37a",
      // the audio and video streaming twins share their batch pins the
      // same way (fingerprint-agnostic machinery, symmetric emission)
      "stream_audiohash_pairs" -> "da20d0fb8b2743ac",
      "stream_vhash_pairs" -> "4f33437bda244558",
      // streaming RESOLUTION shares the batch pin VERBATIM: the emitted
      // pair set is arrival-order independent (above) and min-label CC
      // is confluent under incremental union-find folding — the state
      // table's stars preserve connectivity and min() is associative
      "stream_phash_resolve" -> "19bd2cf41155ef3a",
      "llm_semdedup" -> "d2ea5336e9599c63",      // 1000 rows (500 planted twins)
      // the streaming twin shares the batch pin VERBATIM: frozen
      // centroids from the same deterministic training, priority-ordered
      // fixture makes greedy first-seen == the batch loser rule
      "stream_semdedup" -> "d2ea5336e9599c63")
    val drifted = pins.toSeq.sortBy(_._1).flatMap { case (name, expected) =>
      val df = SparkEntry.queries(name)(spark, dir)
      val rows = df.collect().map(_.toSeq.map(String.valueOf).mkString(",")).sorted
      val h = java.security.MessageDigest.getInstance("SHA-256")
        .digest(rows.mkString(";").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(16)
      info(s"$name rows=${rows.length} hash=$h")
      if (h == expected) None else Some(s"$name: hash=$h rows=${rows.length}")
    }
    assert(drifted.isEmpty, s"result sets drifted:\n${drifted.mkString("\n")}")
  }

  test("fused cosine expression is bit-identical to the HOF form incl. null algebra") {
    import org.apache.spark.sql.types.DoubleType
    // the HOF form the fused expression replaced — kept here as the oracle
    def hofCosine(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
      def dot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
        aggregate(zip_with(x, y, (p, q) => p.cast(DoubleType) * q.cast(DoubleType)),
          lit(0.0), (acc, v) => acc + v)
      dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
    }
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 50).map { i =>
      (i.toLong, Seq.fill(64)(rnd.nextFloat()), Seq.fill(64)(rnd.nextFloat()))
    }.toDF("id", "a", "b")
      // null-algebra cases: unequal length, null element, null array
      .unionByName(Seq(
        (100L, Seq(1.0f, 2.0f), Seq(1.0f, 2.0f, 3.0f)),
        (101L, Seq(1.0f, 2.0f), Seq(1.0f, 2.0f))).toDF("id", "a", "b"))
      .withColumn("b", when(col("id") === 101L,
        array(lit(1.0f), lit(null).cast("float"))).otherwise(col("b")))
    val both = vecs.select(col("id"),
      graft.functions.Blob.cosineSimilarity(col("a"), col("b")).as("fused"),
      hofCosine(col("a"), col("b")).as("hof"))
    val rows = both.collect()
    rows.foreach { r =>
      val f = if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1))
      val h = if (r.isNullAt(2)) null else java.lang.Double.valueOf(r.getDouble(2))
      assert(f == h, s"id=${r.getLong(0)}: fused=$f hof=$h") // BIT-identical, no epsilon
    }
    assert(rows.filter(r => r.getLong(0) >= 100).forall(_.isNullAt(1)),
      "unequal-length / null-element must null the result")
    // and it stays native: no UDF in the plan
    val plan = both.queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"), s"fused cosine fell out of codegen:\n$plan")
  }

  test("IVF centroids are deterministic and unit-norm") {
    val a = Similarity.ivfCentroids(emb, "vec_id", "embedding", 64, nCells = 8, iters = 3)
    val b = Similarity.ivfCentroids(emb, "vec_id", "embedding", 64, nCells = 8, iters = 3)
    assert(a.length == 8)
    assert(a.zip(b).forall { case (x, y) => x.sameElements(y) })
    assert(a.forall(c => math.abs(c.map(x => x * x).sum - 1.0) < 1e-9))
  }

  test("LSH ANN retrieves the source of perturbed near-duplicate queries") {
    // Structured near-dup case (the workload LSH exists for): each query is
    // a lightly-perturbed corpus vector; the source must appear in top-k.
    // This is the meaningful recall gate — random-vector top-k (below) is
    // LSH's worst case and only gets a sanity bound.
    val perturbed = emb.filter(col("vec_id") < 50)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i % 7 === 0, x * 1.02f + lit(0.005f)).otherwise(x)).as("embedding"))
    val res = Similarity.lshTopK(emb, "vec_id", "embedding", 64,
      perturbed, "vec_id", "embedding", k = 5, planesPerTable = 8, tables = 8)
    val hits = res.filter(col("vec_id") === col("query_id") - 100000L)
      .select("query_id").distinct().count()
    assert(hits >= 47, s"source-retrieval recall $hits/50")
  }

  test("langId classifies a 25-sentence corpus at 100% (5 languages x 5)") {
    // NB: the synthetic documents.lang labels carry no signal (the text is
    // the same English-ish word soup for every label), so the accuracy
    // gate lives on this curated corpus instead of the table.
    val samples = Seq(
      ("en", "the cat sat on the mat and it was happy with that for a while"),
      ("en", "it is not that you were wrong but that the plan was never for us"),
      ("en", "this is the kind of thing that you learn with time and for free"),
      ("en", "I think that the meeting is in the morning and you should be there"),
      ("en", "the results of the study that was published are good for everyone"),
      ("es", "el perro corre por la calle y juega con los niños en el parque"),
      ("es", "la casa de mi abuela tiene un jardín con flores y una fuente"),
      ("es", "no sé por qué los trenes llegan tarde cuando más prisa tengo"),
      ("es", "una vez al año vamos con la familia a la playa para descansar"),
      ("es", "el libro que me prestaste es muy bueno y lo estoy leyendo con calma"),
      ("de", "der Hund läuft auf der Straße und das ist nicht ein Problem mit den Autos"),
      ("de", "ich habe gestern mit der Bahn gefahren und die Fahrt war nicht so lang"),
      ("de", "die Kinder spielen im Garten und der Vater kocht das Essen mit Ruhe"),
      ("de", "das Wetter ist heute schön und wir gehen mit den Freunden in den Park"),
      ("de", "es ist nicht leicht eine neue Sprache zu lernen aber es macht Freude"),
      ("fr", "le chat est dans la maison et les enfants jouent dans le jardin pour une heure"),
      ("fr", "je pense que le train est en retard et que nous devons attendre un peu"),
      ("fr", "la cuisine de ma mère est la meilleure chose que je connaisse au monde"),
      ("fr", "il y a des fleurs dans le jardin et les oiseaux chantent pour nous"),
      ("fr", "nous avons passé une semaine à la mer et le temps était magnifique"),
      ("zh", "今天天气很好我们一起去公园散步吧这是一个美好的日子"),
      ("zh", "我昨天买了一本新书内容非常有趣我想推荐给你"),
      ("zh", "火车站离这里不远走路大概需要十五分钟左右"),
      ("zh", "他每天早上六点起床跑步然后吃早饭去上班"),
      ("zh", "这个周末我们打算去看电影然后一起吃晚饭"),
      // held-out second wave — stresses the matrix off-diagonals
      ("en", "we should have gone to the market before it started to rain"),
      ("en", "there was not much that could be done about it at the time"),
      ("es", "mis amigos y yo siempre cenamos juntos los viernes por la noche"),
      ("es", "la ciudad tiene muchos museos y también un teatro muy antiguo"),
      ("de", "wir haben den ganzen Tag im Museum verbracht und viel gesehen"),
      ("de", "meine Schwester wohnt in einer kleinen Stadt in der Nähe von Berlin"),
      ("fr", "les étudiants travaillent à la bibliothèque pendant les examens"),
      ("fr", "mon frère habite près de la gare et il prend le train chaque jour"),
      ("zh", "图书馆里有很多学生在准备下个星期的考试"),
      ("zh", "我们家附近新开了一家餐厅味道很不错价格也便宜")
    ).toDF("want", "text")
    val got = samples.select(col("want"), TextAnalysis.langId(col("text")).as("got"))
      .as[(String, String)].collect()
    // full confusion matrix: per-class precision AND recall must be
    // perfect on the curated corpus (any off-diagonal cell names the
    // confused language pair in the failure message)
    val matrix = got.groupBy(identity).view.mapValues(_.length).toMap
    val langs = got.map(_._1).distinct.sorted
    val offDiag = matrix.filter { case ((w, g), _) => w != g }
    assert(offDiag.isEmpty, "confusion cells: " +
      offDiag.map { case ((w, g), n) => s"$w->$g x$n" }.mkString(", "))
    langs.foreach { l =>
      val recall = matrix.getOrElse((l, l), 0).toDouble / got.count(_._1 == l)
      val predicted = got.count(_._2 == l)
      val precision = if (predicted == 0) 0.0 else matrix.getOrElse((l, l), 0).toDouble / predicted
      assert(recall == 1.0 && precision == 1.0, s"$l: precision=$precision recall=$recall")
    }
  }

  test("token counting and quality scoring behave on edge cases") {
    val df = Seq(
      ("", 0), ("   ", 0), ("one", 1), ("a b  c", 3)
    ).toDF("text", "want")
    df.select(TextAnalysis.tokenCount(col("text")).as("got"), col("want")).collect()
      .foreach(r => assert(r.getInt(0) == r.getInt(1)))
    // subwords: "don't stop" → don + ' + t + stop
    val sw = Seq("don't stop").toDF("text")
      .select(TextAnalysis.subwordCount(col("text"))).as[Int].collect().head
    assert(sw == 4)
  }

  test("fingerprint is stable under token reordering and duplication") {
    val df = Seq(
      ("a", "alpha beta gamma"),
      ("b", "gamma alpha beta alpha"),
      ("c", "alpha beta delta")
    ).toDF("id", "text")
    val fps = df.select(col("id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fps("a") == fps("b"))
    assert(fps("a") != fps("c"))
  }

  test("multimodal feature extraction: schema, determinism, partition-local") {
    val media = Multimodal.syntheticMedia(spark, sf)
    val feats = Multimodal.extractFeatures(media)
    val row = feats.filter(col("media_id") === 1L).collect().head
    assert(row.feature.length == 8)
    assert(row.n_bytes > 0)
    // deterministic across runs
    val again = Multimodal.extractFeatures(media).filter(col("media_id") === 1L).collect().head
    assert(row.feature.toSeq == again.feature.toSeq)
    // frame sampling emits n rows per video with monotone offsets
    val frames = Multimodal.frameSample(media, 4)
    val counts = frames.groupBy("media_id").count().select("count").as[Long].collect()
    assert(counts.forall(_ == 4))
  }

  test("embedding near-dup pairs find planted perturbed duplicates") {
    val pairs = QueriesLlm.queries("llm_embed_pairs")(spark, sf)
    val n = emb.count()
    assert(pairs.count() >= (n * 0.95).toLong)
  }

  test("multimodal: real BMP and WAV decoders extract verifiable features") {
    import spark.implicits._
    import graft.ml.Multimodal
    // 2x2 24bpp BMP: bottom row (blue, green), top row (red, white)
    def le16(v: Int) = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
    def le32(v: Int) = Array(v, v >> 8, v >> 16, v >> 24).map(x => (x & 0xFF).toByte)
    val pixels = Array[Byte]( // BGR rows, stride 8 (2*3 padded to 8)
      -1, 0, 0, 0, -1, 0, 0, 0, // row0 (bottom): blue, green + pad
      0, 0, -1, -1, -1, -1, 0, 0) // row1 (top): red, white + pad
    val bmp = "BM".getBytes ++ le32(54 + 16) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(2) ++ le32(2) ++ le16(1) ++ le16(24) ++ Array.fill(24)(0.toByte) ++ pixels
    // WAV: 4 samples of 16-bit PCM at 8000 Hz: +16384, -16384, +16384, -16384
    val samples = Seq(16384, -16384, 16384, -16384).flatMap(le16)
    val wav = "RIFF".getBytes ++ le32(36 + 8) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(1) ++ le32(8000) ++
      le32(16000) ++ le16(2) ++ le16(16) ++
      "data".getBytes ++ le32(8) ++ samples
    val df = Seq((1L, "image", bmp), (2L, "audio", wav),
      (3L, "image", "not-a-codec".getBytes)).toDF("media_id", "modality", "data")
    val f = Multimodal.extractFeatures(df).collect().map(r => r.media_id -> r.feature).toMap
    // BMP: w=2 h=2; means: B=(1+0+0+1)/4=.5 G=(0+1+0+1)/4=.5 R=(0+0+1+1)/4=.5
    assert(f(1L)(0) == 2.0 && f(1L)(1) == 2.0)
    assert(math.abs(f(1L)(2) - 0.5) < 1e-9 && math.abs(f(1L)(4) - 0.5) < 1e-9)
    // WAV: rate=8000, n=4, rms=0.5, zero-cross rate = 3/3 = 1
    assert(f(2L)(0) == 8000.0 && f(2L)(1) == 4.0)
    assert(math.abs(f(2L)(2) - 0.5) < 1e-3 && f(2L)(3) == 1.0)
    // unknown codec falls back to the deterministic stub (8 moments)
    assert(f(3L).length == 8 && f(3L).exists(_ != 0.0))
  }

  test("multimodal: ImageIO decodes PNG losslessly (formula parity with the BMP oracle)") {
    import spark.implicits._
    import graft.ml.Multimodal
    val key = 7L
    val df = Seq((key, "image", Multimodal.syntheticPng(key))).toDF("media_id", "modality", "data")
    val f = Multimodal.extractFeatures(df).collect().head.feature
    def ch(c: Int): Double =
      (0 until 2).flatMap(y => (0 until 2).map(x => ((key * 37 + y * 16 + x * 4 + c) % 256) / 255.0))
        .sum / 4.0
    assert(f(0) == 2.0 && f(1) == 2.0)
    assert(math.abs(f(2) - ch(0)) < 1e-12, "mean blue")   // PNG is lossless
    assert(math.abs(f(3) - ch(1)) < 1e-12, "mean green")
    assert(math.abs(f(4) - ch(2)) < 1e-12, "mean red")
    // JPEG also decodes via the JDK reader — lossy, so assert shape + range
    val img = new java.awt.image.BufferedImage(4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 4) img.setRGB(x, y, 0x808080)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", out)
    val jf = Multimodal.extractFeatures(
      Seq((2L, "image", out.toByteArray)).toDF("media_id", "modality", "data")).collect().head.feature
    assert(jf(0) == 4.0 && jf(1) == 4.0)
    assert(math.abs(jf(4) - 0x80 / 255.0) < 0.02) // gray within JPEG tolerance
  }

  test("nlp: classify/ner/embed keep one row per unit, embeddings unit-norm, zero-shot argmax") {
    import spark.implicits._
    import graft.ml.Nlp
    val docs = Seq(
      (1L, "the broken awful defective device"),      // learned negative weights
      (2L, "magnificent wonderful excellent things"), // learned positive weights
      (3L, "Alice saw 42 balloons")).toDF("doc_id", "text")
    val cls = Nlp.classifyText(docs, batchSize = 2).collect().map(r => r.doc_id -> r).toMap
    assert(cls(1L).label == "NEGATIVE" && cls(1L).score < 0.0)
    assert(cls(2L).label == "POSITIVE" && cls(2L).score > 0.0)
    val ner = Nlp.classifyTokens(docs.filter($"doc_id" === 3L)).collect()
      .sortBy(_.idx).map(t => (t.token, t.label)).toSeq
    // trained NerModel labels (gazetteer + shape + context features)
    assert(ner == Seq(("Alice", "PER"), ("saw", "O"), ("42", "NUM"), ("balloons", "O")))
    val feats = Nlp.extractFeatures(docs, dim = 16).collect()
    assert(feats.length == 3)
    feats.filter(_.feature.exists(_ != 0f)).foreach { f =>
      val norm = math.sqrt(f.feature.map(x => x.toDouble * x).sum)
      assert(math.abs(norm - 1.0) < 1e-5)
    }
    val zs = Nlp.zeroShot(docs, Seq("balloons", "tiny"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(zs(1L) == "tiny" && zs(3L) == "balloons")
  }

  /** A session whose edge partitions stay apart: with AQE coalescing off,
    * connectedComponents' contraction sees the shuffle width (4) of edge
    * partitions, so a graph that crosses them reaches the seeded rounds. */
  private def splitEdgeSession() = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    ss
  }

  /** The seeded random graph of the kernel-equality specs: long chains, one
    * big star, a cycle and singleton-free noise. */
  private lazy val ccGraph: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(1234567L)
    (
      (0 until 300).map(i => (i * 7L, i * 7L + 7))           // long chains
        ++ (0 until 200).map(i => (10000L, 10000L + i + 1))  // one big star
        ++ (0 until 100).map(i => (20000L + i, 20000L + (i + 1) % 100)) // a cycle
        ++ (0 until 500).map(_ => { val a = rnd.nextInt(5000).toLong
             val b = rnd.nextInt(5000).toLong; (math.min(a, b), math.max(a, b)) })
      ).filter { case (a, b) => a != b }
  }

  private def kernelLabels(edges: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val (ids, labels) = Dedup.localMinLabel(edges.map(_._1).toArray, edges.map(_._2).toArray)
    ids.toSeq.zip(labels.toSeq)
  }

  /** connectedComponents over the graph's own endpoints, on session `ss`. */
  private def ccLabels(ss: org.apache.spark.sql.SparkSession, edges: Seq[(Long, Long)],
                       rounds: Int = 6): Seq[(Long, Long)] = {
    val edf = ss.createDataFrame(edges).toDF("id_a", "id_b")
    val nodes = edf.select(col("id_a").as("node"))
      .unionByName(edf.select(col("id_b").as("node"))).distinct()
    Dedup.connectedComponents(nodes, edf, rounds)
      .as[(Long, Long)].collect().toSeq.sorted
  }

  test("connectedComponents: chain, triangle, isolated node; min id wins; converges in log rounds") {
    // chain 1-2-3-4-5-6-7-8 (diameter 7: pure neighbor-min would need
    // 7+1 rounds; path doubling reaches distance 2^(r-1)), triangle
    // 10-11-12 with a redundant edge, isolated node 20. On the default
    // session the edges coalesce into one partition and contraction
    // alone labels them; with the partitions kept apart the chain
    // crosses them and the seeded rounds finish the job.
    for (ss <- Seq(spark, splitEdgeSession())) {
      val edges = ss.createDataFrame(Seq(
        (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L), (7L, 8L),
        (10L, 11L), (11L, 12L), (12L, 10L))).toDF("id_a", "id_b")
      val nodes = ss.createDataFrame(((1L to 8L) ++ (10L to 12L) ++ Seq(20L)).map(Tuple1(_)))
        .toDF("node")
      val got = graft.ml.Dedup.connectedComponents(nodes, edges, rounds = 5)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      (1L to 8L).foreach(n => assert(got(n) == 1L, s"chain node $n"))
      (10L to 12L).foreach(n => assert(got(n) == 10L, s"triangle node $n"))
      assert(got(20L) == 20L, "isolated node is its own cluster")
      assert(got.size == 12)
    }
  }

  test("connectedComponents: escalation converges a chain longer than the first batch's reach") {
    // rounds = 1: each fallback batch is one round and one edge test, so
    // a 64-node chain split over the edge partitions needs several
    // batches before no edge joins two labels
    val chain = (1L to 63L).map(n => (n, n + 1))
    val got = ccLabels(splitEdgeSession(), chain, rounds = 1)
    assert(got == (1L to 64L).map(_ -> 1L))
    assert(Dedup.lastConvergedRounds >= 2,
      s"the chain took ${Dedup.lastConvergedRounds} rounds: no second batch ran")
  }

  test("connectedComponents over several edge partitions: seeded rounds reach localMinLabel's labels") {
    val got = ccLabels(splitEdgeSession(), ccGraph)
    assert(Dedup.lastConvergedRounds > 0,
      "the graph crosses the edge partitions, so contraction alone cannot resolve it")
    assert(got == kernelLabels(ccGraph).sorted,
      s"diverged: cc ${got.take(3)}... kernel ${kernelLabels(ccGraph).sorted.take(3)}...")
  }

  /** The optimized plans of the `count` actions session `ss` runs in
    * `body`. A `tail` marker action follows the body: the listener bus
    * delivers in order, so once the marker arrives every count has. */
  private def countPlans(ss: org.apache.spark.sql.SparkSession)(body: => Unit)
      : Seq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] = {
    import org.apache.spark.sql.execution.QueryExecution
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(f -> qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ss.listenerManager.register(listener)
    try {
      body
      ss.range(1).tail(1)
      val deadline = System.nanoTime() + 30e9.toLong
      while (!seen.toArray.exists(_.asInstanceOf[(String, QueryExecution)]._1 == "tail") &&
        System.nanoTime() < deadline) Thread.sleep(20)
    } finally ss.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq.collect { case ("count", qe) => qe.optimizedPlan }
  }

  private def hasJoin(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
    p.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Join])

  test("connectedComponents: local labels that disagree fall back to the edge test, which finds min-seeded labels converged") {
    val ss = splitEdgeSession()
    // x < y < z with x and y in different edge partitions: x's partition
    // holds (x, y) and (x, z) and labels y and z with x, y's partition
    // holds (y, z) and labels z with y; the min seeds x everywhere
    val part = ss.range(1, 40).toDF("src").repartition(col("src"))
      .select(col("src"), spark_partition_id().as("p")).as[(Long, Int)].collect().toMap
    val x = 1L
    val y = (2L until 39L).find(part(_) != part(x)).get
    val z = y + 1
    assert(part(y) != part(x))
    val edges = Seq((x, y), (x, z), (y, z))
    var got = Seq.empty[(Long, Long)]
    val counts = countPlans(ss) { got = ccLabels(ss, edges) }
    assert(got == Seq(x -> x, y -> x, z -> x))
    assert(Dedup.lastConvergedRounds == 0)
    assert(counts.exists(hasJoin), "no edge test ran on disagreeing local labels")
    // a graph that coalesces into one partition agrees: no edge test
    val single = spark.newSession()
    val agreed = countPlans(single) { got = ccLabels(single, edges) }
    assert(got == Seq(x -> x, y -> x, z -> x) && Dedup.lastConvergedRounds == 0)
    assert(agreed.nonEmpty && !agreed.exists(hasJoin), "the edge test ran on agreeing local labels")
  }

  test("connectedComponents on seeded random graphs equals localMinLabel on both sessions") {
    for (seed <- Seq(11L, 12L, 13L)) {
      val rnd = new scala.util.Random(seed)
      val nodes = 50 + rnd.nextInt(400)
      val edges = Seq.fill(nodes * (1 + rnd.nextInt(2)) / 2)((rnd.nextInt(nodes).toLong, rnd.nextInt(nodes).toLong))
        .filter { case (a, b) => a != b }
      for (ss <- Seq(spark, splitEdgeSession()))
        assert(ccLabels(ss, edges) == kernelLabels(edges).sorted, s"seed $seed")
    }
  }

  test("dupSpans: merges overlapping windows to maximal spans; unique text and short docs excluded") {
    import spark.implicits._
    // 12-token duplicated prefix shared by docs 1 and 2 (w=4 → windows at
    // offsets 0..8 in both, merging to one [0,12) span); doc 1 continues
    // with unique tokens (no span there); doc 3 is all-unique; doc 4 is
    // shorter than w. Tokens are single letters to keep offsets obvious.
    val shared = (1 to 12).map(i => s"tok$i").mkString(" ")
    val corpus = Seq(
      (1L, shared + " uniq1 uniq2 uniq3 uniq4"),
      (2L, shared),
      (3L, (1 to 10).map(i => s"other$i").mkString(" ")),
      (4L, "tiny doc")
    ).toDF("doc_id", "text")
    val got = graft.ml.Dedup.dupSpans(corpus, "doc_id", "text", w = 4)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == ((0L, 12L, 9L)), "doc 1: one maximal span over the shared prefix")
    assert(got(2L) == ((0L, 12L, 9L)), "doc 2: same span")
    assert(!got.contains(3L) && !got.contains(4L))
    assert(got.size == 2)
  }

  test("dupSpans: non-adjacent duplicated regions stay separate spans") {
    import spark.implicits._
    // doc 1 repeats region A at both ends with a unique middle — two
    // islands; doc 2 carries A once (one island)
    val a = (1 to 4).map(i => s"a$i").mkString(" ")
    val corpus = Seq(
      (1L, s"$a m1 m2 m3 m4 m5 $a"),
      (2L, a)
    ).toDF("doc_id", "text")
    val got = graft.ml.Dedup.dupSpans(corpus, "doc_id", "text", w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 0L, 4L), (1L, 9L, 13L), (2L, 0L, 4L)), got.toString)
  }

  test("dupSpanCut: keep-first policy — canonical occurrence survives, copies are cut") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "a1 a2 a3 a4 a5 tail1 tail2"), // canonical carrier of a1..a5
      (2L, "a1 a2 a3 a4 a5"),             // full duplicate → fully cut
      (3L, "x y"),                        // shorter than w → passthrough
      // intra-doc repeat: first occurrence of b1..b4 kept, second cut
      (4L, "b1 b2 b3 b4 z1 z2 z3 b1 b2 b3 b4")
    ).toDF("doc_id", "text")
    val got = graft.ml.Dedup.dupSpanCut(corpus, "doc_id", "text", w = 4)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got(1L) == (("a1 a2 a3 a4 a5 tail1 tail2", 0L)), "canonical doc untouched")
    assert(got(2L) == (("", 5L)), "full duplicate fully cut, row kept")
    assert(got(3L) == (("x y", 0L)), "short doc passes through")
    assert(got(4L) == (("b1 b2 b3 b4 z1 z2 z3", 4L)), "intra-doc second occurrence cut")
    assert(got.size == 4)
  }

  test("dup-span family survives a degenerate corpus (one viral window in half the docs) with no digest window-function") {
    import spark.implicits._
    // the skew shape the operator exists for: ONE 15-token boilerplate
    // block repeated across ~half the corpus — its digest is a hot key
    // that a window-function count would funnel into a single task
    // (round-11 verdict #1). The de-skewed plan counts via groupBy
    // (partial agg) + join-back, so the hot digest never piles up.
    val boiler = (1 to 15).map(i => s"b$i").mkString(" ")
    val corpus = (1L to 200L).map { i =>
      if (i % 2 == 0) (i, boiler + " " + (1 to 5).map(j => s"u${i}x$j").mkString(" "))
      else (i, (1 to 20).map(j => s"q${i}y$j").mkString(" "))
    }.toDF("doc_id", "text")
    val spans = graft.ml.Dedup.dupSpans(corpus, "doc_id", "text", w = 15)
    val gotSpans = spans.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(gotSpans.keySet == (2L to 200L by 2).toSet, "every boilerplate carrier flagged")
    gotSpans.values.foreach(v => assert(v == ((0L, 15L, 1L)), s"span $v"))
    // structural guard: the executed plan must contain NO window function
    // partitioned on the content digest `h` (the per-doc islands window
    // on doc_id is fine — bounded by document length)
    val plan = spans.queryExecution.executedPlan.toString
    assert(!plan.contains("windowspecdefinition(h#"),
      s"digest-partitioned window crept back into dupSpans:\n$plan")
    // the CUT keeps exactly one canonical carrier (doc 2) intact and
    // strips the boilerplate from all other carriers
    val cut = graft.ml.Dedup.dupSpanCut(corpus, "doc_id", "text", w = 15)
    val gotCut = cut.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(gotCut(2L)._2 == 0L, "canonical carrier untouched")
    (4L to 200L by 2).foreach { i =>
      assert(gotCut(i)._2 == 15L, s"doc $i boilerplate cut")
      assert(!gotCut(i)._1.contains("b1"), s"doc $i still carries boilerplate")
    }
    (1L to 199L by 2).foreach(i => assert(gotCut(i)._2 == 0L, s"unique doc $i untouched"))
    val cutPlan = cut.queryExecution.executedPlan.toString
    assert(!cutPlan.contains("windowspecdefinition(h#"),
      s"digest-partitioned window crept back into dupSpanCut:\n$cutPlan")
  }

  test("dsirLogRatio matches hand-computed target/corpus unigram log-ratios") {
    import spark.implicits._
    val corpus = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val target = Seq((1L, "a a b")).toDF("doc_id", "text") // doc 1 is the target sample
    val got = TextAnalysis.dsirLogRatio(corpus, target, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    // corpus tf: a=2 b=2 c=1, total 5, vocab 3; target tf: a=2 b=1, total 3
    // smoothed target P: (tf_t+1)/(3+3); ratios per token:
    val ra = math.log10(3.0 / 6) - math.log10(2.0 / 5)
    val rb = math.log10(2.0 / 6) - math.log10(2.0 / 5)
    val rc = math.log10(1.0 / 6) - math.log10(1.0 / 5)
    assert(math.abs(got(1L)._1 - (ra + ra + rb) / 3) < 1e-12 && got(1L)._2 == 3L)
    assert(math.abs(got(2L)._1 - (rb + rc) / 2) < 1e-12 && got(2L)._2 == 2L)
    // the target-like doc outranks the one carrying the target-absent token
    assert(got(1L)._1 > got(2L)._1)
  }

  test("decontaminateCut removes exactly the eval-matching spans, keeps the rest") {
    import spark.implicits._
    val train = Seq(
      (1L, "pre1 pre2 alpha beta gamma delta epsilon post1 post2"), // eval 5-gram inside
      (2L, "one two three four five six"),                          // clean
      (3L, "alpha beta gamma delta epsilon"),                       // fully contaminated
      (4L, "alpha beta gamma delta epsilon zeta alpha beta gamma delta epsilon"), // overlapping matches merge
      (5L, "tiny doc")                                              // shorter than n → untouched
    ).toDF("doc_id", "text")
    val evalSet = Seq("alpha beta gamma delta epsilon zeta").toDF("text")
    val got = graft.ml.Dedup.decontaminateCut(train, evalSet, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // eval 5-grams: {a b g d e, b g d e z}
    assert(got(1L) == (("pre1 pre2 post1 post2", 5L)), got(1L).toString)
    assert(got(2L) == (("one two three four five six", 0L)))
    assert(got(3L) == (("", 5L)), "fully contaminated doc stays as an empty row")
    // doc 4: windows at 0 (abgde), 1 (bgdez), 2 (gdeza)... matches at 0,1 and 6
    // (abgde again) → islands [0,6) ∪ [6,11) merge to one full cut
    assert(got(4L) == (("", 11L)), got(4L).toString)
    assert(got(5L) == (("tiny doc", 0L)), "short doc passes through")
  }

  test("llm_corpus_select: every selection clause is non-vacuous at the gate SF") {
    import spark.implicits._
    val corpus = QueriesLlm.plantedCorpus(spark, sf)
    val total = corpus.count()
    val selected = QueriesLlm.queries("llm_corpus_select")(spark, sf).count()
    assert(selected > 0 && selected < total, s"selection is a real filter: $selected/$total")
    // each clause individually excludes at least one doc — a vacuous
    // clause would make the composition gate weaker than it claims
    val evalSet = docs.filter(col("doc_id") % 10 === 0)
      .select(substring_index(col("text"), " ", 20).as("text"))
    val nContaminated = Dedup.decontaminate(corpus, evalSet, "doc_id", "text", n = 5).count()
    assert(nContaminated > 0, "decontamination clause active")
    val nDupes = corpus.groupBy(md5(col("text").cast("binary"))).count()
      .filter(col("count") > 1).count()
    assert(nDupes > 0, "exact-dedup clause active")
    val nShort = corpus.filter(TextAnalysis.tokenCount(col("text")) < 20).count()
    assert(nShort > 0, "token-band clause active")
    val nLowQ = corpus.filter(TextAnalysis.qualityScore(col("text")) < 1.0).count()
    assert(nLowQ > 0, "quality clause active")
  }

  test("stream_corpus_select equals the batch selection exactly (cross-batch keyed state)") {
    def canon(df: org.apache.spark.sql.DataFrame): Vector[String] = {
      val cols = df.columns.sorted.toSeq
      df.select(cols.map(col): _*).collect()
        .map(_.toSeq.map(String.valueOf).mkString("\u0001")).toVector.sorted
    }
    val batch = canon(QueriesLlm.queries("llm_corpus_select")(spark, sf))
    val stream = canon(QueriesLlm.queries("stream_corpus_select")(spark, sf))
    assert(batch.nonEmpty, "selection keeps rows at the spec SF")
    assert(stream == batch,
      s"streaming twin diverges: batch ${batch.size} rows, stream ${stream.size}")
  }

  test("stream_dup_spans equals the batch span dedup exactly (cross-batch digest state)") {
    def canon(df: org.apache.spark.sql.DataFrame): Vector[String] = {
      val cols = df.columns.sorted.toSeq
      df.select(cols.map(col): _*).collect()
        .map(_.toSeq.map(String.valueOf).mkString("\u0001")).toVector.sorted
    }
    val batch = canon(QueriesLlm.queries("llm_dup_spans")(spark, sf))
    val stream = canon(QueriesLlm.queries("stream_dup_spans")(spark, sf))
    assert(batch.nonEmpty, "planted corpus carries duplicated spans at the spec SF")
    assert(stream == batch,
      s"streaming twin diverges: batch ${batch.size} rows, stream ${stream.size}")
  }

  test("stream_decontaminate_cut equals the batch span decontamination exactly (stateless twin)") {
    def canon(df: org.apache.spark.sql.DataFrame): Vector[String] = {
      val cols = df.columns.sorted.toSeq
      df.select(cols.map(col): _*).collect()
        .map(_.toSeq.map(String.valueOf).mkString("\u0001")).toVector.sorted
    }
    val batch = canon(QueriesLlm.queries("llm_decontaminate_cut")(spark, sf))
    val stream = canon(QueriesLlm.queries("stream_decontaminate_cut")(spark, sf))
    assert(batch.nonEmpty)
    val cutDocs = QueriesLlm.queries("llm_decontaminate_cut")(spark, sf)
      .filter(col("n_cut") > 0).count()
    assert(cutDocs > 0, "planted contamination cuts rows at the spec SF")
    assert(stream == batch,
      s"stateless streaming twin diverges: batch ${batch.size} rows, stream ${stream.size}")
  }

  test("dHash64: brightness-invariant within radius; independent images far apart") {
    def hashOf(k: Long, brighten: Int = 0): Long = {
      val (w, h, px) = graft.ml.Multimodal.decodeBmp24Pixels(
        Multimodal.syntheticImageBmp(k, brighten = brighten))
      Multimodal.dHash64(w, h, px)
    }
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val keys = (0L until 50L)
    // a +3 brightness shift preserves every neighbor comparison except at
    // the 255 clamp — twins stay within the banded radius
    keys.foreach { k =>
      val d = hamming(hashOf(k), hashOf(k, brighten = 3))
      assert(d <= 7, s"key $k: twin hamming $d exceeds the banded radius")
    }
    // independent pseudo-random images ≈ independent 64-bit prints:
    // nowhere near the radius
    val cross = for (a <- keys; b <- keys if a < b) yield hamming(hashOf(a), hashOf(b))
    assert(cross.min > 7, s"closest cross-image hamming ${cross.min} inside the radius")
    // the grid guard makes tiny images hash without special cases
    val (w2, h2, px2) = graft.ml.Multimodal.decodeBmp24Pixels(Multimodal.syntheticBmp(7L))
    Multimodal.dHash64(w2, h2, px2) // must not throw
  }

  test("llm_phash_resolve: every twin cluster keeps exactly its original") {
    val out = QueriesLlm.queries("llm_phash_resolve")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nDocs = docs.count()
    assert(out.length == 2 * nDocs, "every media row classified")
    // twins cluster with their original; the min-id canonical is the original
    out.foreach { case (id, cluster, keep) =>
      if (id >= 100000L) {
        assert(cluster == id - 100000L, s"twin $id must cluster with its original")
        assert(keep == 0L, s"twin $id must be dropped")
      } else {
        assert(cluster == id, s"original $id is its own cluster root")
        assert(keep == 1L, s"original $id must be kept")
      }
    }
  }

  test("llm_phash_pairs: every planted brightness twin recovered; no cross-image pairs") {
    val out = QueriesLlm.queries("llm_phash_pairs")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.get(2).toString.toInt))
    val nDocs = docs.count()
    val twins = out.filter { case (a, b, _) => b == a + 100000L }
    assert(twins.length == nDocs,
      s"planted twins recovered: ${twins.length}/$nDocs")
    assert(twins.forall(_._3 <= 7))
    assert(out.length == twins.length,
      s"cross-image false pairs: ${out.filterNot(p => p._2 == p._1 + 100000L).take(5).toSeq}")
  }

  test("stream_phash_pairs equals batch exactly (order-independent pair emission)") {
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.get(2).toString.toInt)).toSet
    val batch = canon(QueriesLlm.queries("llm_phash_pairs")(spark, sf))
    val stream = canon(QueriesLlm.queries("stream_phash_pairs")(spark, sf))
    assert(batch.nonEmpty && batch == stream,
      s"batch ${batch.size} pairs vs stream ${stream.size}")
  }

  test("StreamPhash: cross-batch pair detection; exactly-once across multiple matching blocks") {
    val ss = spark.newSession()
    import ss.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = ss.sqlContext
    val in = MemoryStream[(Long, Long, Int, Long)]
    val pairs = graft.streaming.StreamPhash.candidatePairs(in.toDS(), maxHamming = 7, blocks = 8)
    val ckpt = TempDir("sph_spec_ckpt").toFile
    val q = pairs.writeStream.format("memory").queryName("sph_spec_sink")
      .outputMode("append").option("checkpointLocation", ckpt.getPath).start()
    // sig A and sig B: identical prints (ALL 8 blocks match — the
    // worst case for duplicate emission); sig C: differs from A in
    // exactly one bit of block 0 (hamming 1, matches A in blocks 1-7 —
    // min matching block is 1, so only that bucket may emit)
    val sigA = 0x1122334455667788L
    val sigC = sigA ^ 1L
    def occ(id: Long, sig: Long) = (0 until 8).map(b =>
      (id, sig, b, (sig >>> (b * 8)) & 0xFFL))
    in.addData(occ(1L, sigA): _*)
    q.processAllAvailable()
    in.addData(occ(2L, sigA) ++ occ(3L, sigC): _*) // cross-batch AND same-batch matches
    q.processAllAvailable()
    Run.stop(q)
    val out = ss.table("sph_spec_sink")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(out == Seq((1L, 2L, 0), (1L, 3L, 1), (2L, 3L, 1)),
      s"each pair exactly once despite 7-8 shared blocks; got $out")
  }

  test("aHash64: gain-invariant within radius; independent clips far apart; short clips safe") {
    def hashOf(k: Long, gainPct: Int = 100): Long = {
      val (_, samples) = graft.ml.Multimodal.decodeWavPcm16Samples(
        Multimodal.syntheticWav(k, gainPct = gainPct))
      Multimodal.aHash64(samples)
    }
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val keys = (0L until 50L)
    keys.foreach { k =>
      val d = hamming(hashOf(k), hashOf(k, gainPct = 80))
      assert(d <= 7, s"key $k: gain-twin hamming $d exceeds the banded radius")
    }
    val cross = for (a <- keys; b <- keys if a < b) yield hamming(hashOf(a), hashOf(b))
    assert(cross.min > 7, s"closest cross-clip hamming ${cross.min} inside the radius")
    // clips shorter than the 65-frame grid hash without special cases
    val (_, tiny) = graft.ml.Multimodal.decodeWavPcm16Samples(
      Multimodal.syntheticWav(3L, nSamples = 10))
    Multimodal.aHash64(tiny) // must not throw
    assert(Multimodal.aHash64(Array.empty[Short]) == 0L)
  }

  test("llm_audiohash_pairs: every planted gain twin recovered; no cross-clip pairs") {
    val out = QueriesLlm.queries("llm_audiohash_pairs")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.get(2).toString.toInt))
    val nDocs = docs.count()
    val twins = out.filter { case (a, b, _) => b == a + 100000L }
    assert(twins.length == nDocs, s"planted twins recovered: ${twins.length}/$nDocs")
    assert(twins.forall(_._3 <= 7))
    assert(out.length == twins.length,
      s"cross-clip false pairs: ${out.filterNot(p => p._2 == p._1 + 100000L).take(5).toSeq}")
  }

  test("llm_phash_pairs_r3: the scale-form radius recovers every planted twin; no false pairs") {
    // radius 3 = 16-bit blocks, the block width a ≥1M-image corpus needs
    // (r14 verdict #3: the gate pinned only the non-scale radius 7; this
    // row pins the scale form's SEMANTICS, promoting PhashProbe's
    // measured recall-1.0 into a standing assertion)
    val out = QueriesLlm.queries("llm_phash_pairs_r3")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.get(2).toString.toInt))
    val nDocs = docs.count()
    val twins = out.filter { case (a, b, _) => b == a + 100000L }
    assert(twins.length == nDocs, s"planted twins recovered: ${twins.length}/$nDocs")
    assert(twins.forall(_._3 <= 3))
    assert(out.length == twins.length,
      s"cross-image false pairs: ${out.filterNot(p => p._2 == p._1 + 100000L).take(5).toSeq}")
  }

  test("stream_audiohash_pairs equals batch exactly (order-independent pair emission)") {
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.get(2).toString.toInt)).toSet
    val batch = canon(QueriesLlm.queries("llm_audiohash_pairs")(spark, sf))
    val stream = canon(QueriesLlm.queries("stream_audiohash_pairs")(spark, sf))
    assert(batch.nonEmpty && batch == stream,
      s"batch ${batch.size} pairs vs stream ${stream.size}")
  }

  test("stream_vhash_pairs equals batch exactly (order-independent pair emission)") {
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.get(2).toString.toInt)).toSet
    val batch = canon(QueriesLlm.queries("llm_vhash_pairs")(spark, sf))
    val stream = canon(QueriesLlm.queries("stream_vhash_pairs")(spark, sf))
    assert(batch.nonEmpty && batch == stream,
      s"batch ${batch.size} pairs vs stream ${stream.size}")
  }

  test("streaming fingerprint pairs: a not-yet-reached eviction horizon equals NoTimeout exactly") {
    // the gates ship the eviction-capable path (1 h horizon); this pins
    // the claim their shared batch hash relies on — a horizon the run
    // never reaches is bit-identical to unbounded retention (the
    // stream_dup_spans retention convention, ported per r14 verdict #2)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.get(2).toString.toInt)).toSet
    val inDir = QueriesLlm.phashSplitDir(spark, sf)
    val unbounded = canon(QueriesLlm.streamFingerprintPairs(
      spark, inDir, graft.ml.Multimodal.dhashBmp, "dhash", None))
    val horizon = canon(QueriesLlm.streamFingerprintPairs(
      spark, inDir, graft.ml.Multimodal.dhashBmp, "dhash", Some(3600L * 1000)))
    assert(unbounded.nonEmpty && horizon == unbounded,
      s"eviction horizon diverged: NoTimeout ${unbounded.size} pairs, horizon ${horizon.size}")
  }

  test("splitCount counts batches under the consumer's own maxFilesPerTrigger") {
    val part = spark.range(8).toDF("id")
    val sharded = Run.writeSplitDir("split_count",
      Seq(part -> "0_a.parquet", part -> "1_b.parquet"), filesPerPart = 2)
    assert(new java.io.File(sharded.toString).listFiles()
      .count(_.getName.endsWith(".parquet")) == 4)
    // the same four files one per split: four batches, where the two-file
    // `0_` split of the sharded fixture would suggest two
    val single = Run.writeSplitDir("split_count1", Seq(part -> "0_a.parquet",
      part -> "1_b.parquet", part -> "2_c.parquet", part -> "3_d.parquet"))
    // splitCount and the reader take the per-trigger width from one rule:
    // the stream yields exactly splitCount data batches
    def dataBatches(inDir: java.nio.file.Path): Int =
      Run.run("split_count", Run.readSplits(spark.newSession(), inDir),
        Run.Sink.Files("noop")).recentProgress.count(_.numInputRows > 0)
    assert(Run.splitCount(single) == 4 && dataBatches(single) == 4)
    assert(Run.splitCount(sharded) == 2 && dataBatches(sharded) == 2)
  }

  test("StreamPhash: cold buckets age out past the horizon; same-batch pairing survives") {
    // Hand-built single-block occurrence stream, one file per micro-batch
    // (the StreamDedup live-eviction design, ported per r14 verdict #2 —
    // this is the spec that actually EXERCISES the hasTimedOut branch):
    //   batch 0: print 1 (sigA) lands in bucket (0, keyA)
    //   batches 1-2: fillers in other buckets (the 1 ms horizon elapses;
    //                timeouts fire for buckets WITHOUT new data)
    //   batch 3: print 2 (sigA — the twin) + prints 3, 4 (sigC twins,
    //            same batch) in bucket (0, keyC)
    // With the 1 ms horizon, bucket (0, keyA) is evicted during the
    // fillers, so the cross-batch pair (1, 2) is MISSED (the documented
    // streaming-recall trade) while the same-batch pair (3, 4) — which
    // needs no aged state — still emits. NoTimeout emits both.
    import spark.implicits._
    val sigA = 0x1122334455667788L
    val sigC = 0x0102030405060708L
    def occFile(rows: Seq[(Long, Long, Int, Long)]) =
      rows.toDF("id", "sig", "blk", "key")
    def key(sig: Long) = sig & 0xFFL
    val inDir = Run.writeSplitDir("sph_evict", Seq(
      (occFile(Seq((1L, sigA, 0, key(sigA)))), "0_occ.parquet"),
      (occFile(Seq((100L, 0x7070707070707070L, 0, 0x70L))), "1_occ.parquet"),
      (occFile(Seq((101L, 0x6060606060606060L, 0, 0x60L))), "2_occ.parquet"),
      (occFile(Seq((2L, sigA, 0, key(sigA)),
        (3L, sigC, 0, key(sigC)), (4L, sigC, 0, key(sigC)))), "3_occ.parquet")))
    def run(evict: Option[Long]): (Set[(Long, Long, Int)], Long) = {
      val ss = spark.newSession()
      import ss.implicits._
      val schema = ss.read.parquet(inDir.resolve("0_occ.parquet").toString).schema
      val occ = ss.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(inDir.toString)
        .toDF("_1", "_2", "_3", "_4").as[(Long, Long, Int, Long)]
      val sink = s"sph_evict_${evict.isDefined}"
      val ckpt = TempDir("sph_evict_ckpt").toFile
      val writer = graft.streaming.StreamPhash
        .candidatePairs(occ, maxHamming = 7, blocks = 8, evictBucketAfterMs = evict)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").option("checkpointLocation", ckpt.getPath)
      val q =
        if (evict.isDefined) {
          val q0 = writer
            .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(20L)).start()
          Run.drainAndStop(q0)
          q0
        } else {
          val q0 = writer
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
          q0.awaitTermination()
          q0
        }
      val removed = q.recentProgress
        .flatMap(p => Option(p.stateOperators).toSeq.flatten)
        .map(_.numRowsRemoved).sum
      val out = ss.table(sink).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      (out, removed)
    }
    val (unbounded, removed0) = run(None)
    assert(unbounded == Set((1L, 2L, 0), (3L, 4L, 0)),
      s"NoTimeout must pair both twins, got $unbounded")
    assert(removed0 == 0L, "NoTimeout must never evict state")
    val (evicted, removed1) = run(Some(1L))
    assert(evicted == Set((3L, 4L, 0)),
      s"past-horizon cross-batch pair must be missed, same-batch pair must emit, got $evicted")
    assert(removed1 >= 1L, "eviction must remove the aged bucket state row")
  }

  test("StreamPhash: a saturated bucket stops storing but still pairs arrivals with stored prints") {
    // maxBucketSize=1: batch 0 stores A and freezes the bucket. B then C
    // arrive at the frozen bucket — each must still pair with the STORED
    // A (emission costs no state), while the pair (B, C) between two
    // post-saturation arrivals is the documented residual loss (neither
    // was stored). Guards the cap from regressing to drop-the-arrival,
    // which silently lost ALL pairs min-blocked in a saturated bucket.
    import spark.implicits._
    val sigA = 0x1122334455667788L
    def occFile(rows: Seq[(Long, Long, Int, Long)]) =
      rows.toDF("id", "sig", "blk", "key")
    val inDir = Run.writeSplitDir("sph_sat", Seq(
      (occFile(Seq((1L, sigA, 0, sigA & 0xFFL))), "0_occ.parquet"),
      (occFile(Seq((2L, sigA, 0, sigA & 0xFFL))), "1_occ.parquet"),
      (occFile(Seq((3L, sigA, 0, sigA & 0xFFL))), "2_occ.parquet")))
    val ss = spark.newSession()
    def run(): Set[(Long, Long, Int)] = {
      import ss.implicits._
      val schema = ss.read.parquet(inDir.resolve("0_occ.parquet").toString).schema
      val occ = ss.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(inDir.toString)
        .toDF("_1", "_2", "_3", "_4").as[(Long, Long, Int, Long)]
      val ckpt = TempDir("sph_sat_ckpt").toFile
      val q = graft.streaming.StreamPhash
        .candidatePairs(occ, maxHamming = 7, blocks = 8, maxBucketSize = 1)
        .writeStream.format("memory").queryName("sph_sat_sink")
        .outputMode("append").option("checkpointLocation", ckpt.getPath)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      ss.table("sph_sat_sink").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    }
    val out = run()
    assert(out == Set((1L, 2L, 0), (1L, 3L, 0)),
      s"stored-print pairs must survive saturation, (2,3) must be the only loss; got $out")
  }

  test("stream_semdedup: a not-yet-reached eviction horizon equals NoTimeout exactly") {
    def canon(df: org.apache.spark.sql.DataFrame): Vector[String] = {
      val cols = df.columns.sorted.toSeq
      df.select(cols.map(col): _*).collect()
        .map(_.toSeq.map(String.valueOf).mkString(",")).toVector.sorted
    }
    val unbounded = canon(QueriesLlm.streamSemDedupRun(spark, sf, None))
    val horizon = canon(QueriesLlm.streamSemDedupRun(spark, sf, Some(3600L * 1000)))
    assert(unbounded.nonEmpty && horizon == unbounded,
      s"eviction horizon diverged: NoTimeout ${unbounded.size} rows, horizon ${horizon.size}")
  }

  test("StreamSemDedup: cold cells age out past the horizon; the history they held is forgotten") {
    // batch 0: v1 (cell 0) — batches 1-2: fillers in other cells —
    // batch 3: v2 == v1's vector (cell 0) plus v3 (same vector, same
    // batch, lower priority). With a 1 ms horizon cell 0's history is
    // evicted during the fillers, so v2 is KEPT (its ≥τ predecessor is
    // forgotten — the documented recall trade) while v3 is still dropped
    // against the SAME-batch v2 (the in-batch priority path needs no
    // aged state). NoTimeout drops both v2 and v3 against v1.
    import spark.implicits._
    val e0 = Seq(1.0, 0.0, 0.0, 0.0)
    def vecFile(rows: Seq[(Long, Int, Double, Seq[Double])]) =
      rows.toDF("id", "cell", "ccos", "vec")
    val inDir = Run.writeSplitDir("ssd_evict", Seq(
      (vecFile(Seq((1L, 0, 1.0, e0))), "0_vec.parquet"),
      (vecFile(Seq((100L, 1, 1.0, Seq(0.0, 1.0, 0.0, 0.0)))), "1_vec.parquet"),
      (vecFile(Seq((101L, 2, 1.0, Seq(0.0, 0.0, 1.0, 0.0)))), "2_vec.parquet"),
      (vecFile(Seq((2L, 0, 1.0, e0), (3L, 0, 0.9, e0))), "3_vec.parquet")))
    def run(evict: Option[Long]): (Map[Long, Long], Long) = {
      val ss = spark.newSession()
      import ss.implicits._
      val schema = ss.read.parquet(inDir.resolve("0_vec.parquet").toString).schema
      val rows = ss.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(inDir.toString)
        .toDF("_1", "_2", "_3", "_4").as[(Long, Int, Double, Seq[Double])]
      val sink = s"ssd_evict_${evict.isDefined}"
      val ckpt = TempDir("ssd_evict_ckpt").toFile
      val writer = graft.streaming.StreamSemDedup
        .keepDecisions(rows, threshold = 0.95, evictCellAfterMs = evict)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").option("checkpointLocation", ckpt.getPath)
      val q =
        if (evict.isDefined) {
          val q0 = writer
            .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(20L)).start()
          Run.drainAndStop(q0)
          q0
        } else {
          val q0 = writer
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
          q0.awaitTermination()
          q0
        }
      val removed = q.recentProgress
        .flatMap(p => Option(p.stateOperators).toSeq.flatten)
        .map(_.numRowsRemoved).sum
      val out = ss.table(sink).collect()
        .map(r => r.getLong(0) -> r.getLong(3)).toMap
      (out, removed)
    }
    val (unbounded, removed0) = run(None)
    assert(unbounded == Map(1L -> 1L, 100L -> 1L, 101L -> 1L, 2L -> 0L, 3L -> 0L),
      s"NoTimeout must drop both later twins against v1, got $unbounded")
    assert(removed0 == 0L, "NoTimeout must never evict state")
    val (evicted, removed1) = run(Some(1L))
    assert(evicted == Map(1L -> 1L, 100L -> 1L, 101L -> 1L, 2L -> 1L, 3L -> 0L),
      s"evicted cell must forget v1 (v2 kept) yet still drop the same-batch v3, got $evicted")
    assert(removed1 >= 1L, "eviction must remove the aged cell state row")
  }

  test("vHash64: brightness- and frame-rate-invariant within radius; independent videos far apart") {
    import graft.ml.Multimodal
    def hashOf(k: Long, brighten: Int = 0, dup: Boolean = false): Long = {
      val frames = graft.functions.Avi.decodeFrames(
        Multimodal.syntheticVideoAvi(k, brighten = brighten, dupFrames = dup))
      Multimodal.vHash64(frames.iterator.map { fr =>
        var s = 0.0
        fr.pixels.foreach { rgb =>
          s += 0.299 * ((rgb >> 16) & 0xFF) + 0.587 * ((rgb >> 8) & 0xFF) +
            0.114 * (rgb & 0xFF)
        }
        s / fr.pixels.length
      }.toArray)
    }
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val keys = (0L until 50L)
    keys.foreach { k =>
      val d = hamming(hashOf(k), hashOf(k, brighten = 3))
      assert(d <= 7, s"key $k: brightness-twin hamming $d exceeds the banded radius")
      // a 2× frame-rate re-encode (every frame duplicated) box-averages
      // to the IDENTICAL 65 slot means — bit-identical hash
      assert(hashOf(k, dup = true) == hashOf(k), s"key $k: frame-rate re-encode drifted")
    }
    val cross = for (a <- keys; b <- keys if a < b) yield hamming(hashOf(a), hashOf(b))
    assert(cross.min > 7, s"closest cross-video hamming ${cross.min} inside the radius")
    // videos shorter than the 65-slot grid hash without special cases
    val short = graft.functions.Avi.decodeFrames(Multimodal.syntheticVideoAvi(3L, nFrames = 3))
    Multimodal.vHash64(short.iterator.map(_.pixels.length.toDouble).toArray) // must not throw
    assert(Multimodal.vHash64(Array.empty[Double]) == 0L)
  }

  test("llm_vhash_pairs: every planted re-render twin recovered; no cross-video pairs") {
    val out = QueriesLlm.queries("llm_vhash_pairs")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.get(2).toString.toInt))
    val nDocs = docs.count()
    val twins = out.filter { case (a, b, _) => b == a + 100000L }
    assert(twins.length == nDocs, s"planted twins recovered: ${twins.length}/$nDocs")
    assert(twins.forall(_._3 <= 7))
    assert(out.length == twins.length,
      s"cross-video false pairs: ${out.filterNot(p => p._2 == p._1 + 100000L).take(5).toSeq}")
  }

  test("bpeMerges learns the classic subword merges on the Sennrich-style fixture") {
    // vocab: low:5 lower:2 newest:6 widest:3 (the paper's running
    // example). Expected merges HAND-DERIVED from the rule (most
    // frequent adjacent pair, ties lexicographic on (left, right)):
    // pairs at start: e-s 9, s-t 9, t-</w> 9, l-o 7, o-w 7, w-e 8,
    // n-e 6, e-w 6, ... → "e"+"s" first, then cascading.
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val corpus = Seq((1L, text)).toDF("doc_id", "text")
    val got = graft.ml.Bpe.bpeMerges(corpus, "text", nMerges = 10)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq
    val expected = Seq(
      ("e", "s", 9L), ("es", "t", 9L), ("est", "</w>", 9L),
      ("l", "o", 7L), ("lo", "w", 7L),
      ("e", "w", 6L), ("ew", "est</w>", 6L), ("n", "ewest</w>", 6L),
      ("low", "</w>", 5L), ("d", "est</w>", 3L))
    assert(got == expected, s"merge table:\n${got.mkString("\n")}")
  }

  test("applyMerge is greedy left-to-right and non-overlapping") {
    import graft.ml.Bpe.applyMerge
    assert(applyMerge(Seq("a", "a", "a"), "a", "a") == Seq("aa", "a"))
    assert(applyMerge(Seq("a", "b", "a", "b"), "a", "b") == Seq("ab", "ab"))
    assert(applyMerge(Seq("x"), "a", "b") == Seq("x"))
  }

  test("bpeMerges: the driver-side incremental path equals the distributed loop exactly") {
    // The merge-axis fork (r14 verdict #1): below the vocab limit the
    // trainer collects the word table and runs Sennrich's incremental
    // pair-count update in-memory. Same argmax, same tie-break, same
    // greedy apply — pinned here by running BOTH paths on the real
    // sf0.001 corpus (localVocabLimit = 0 forces the distributed loop)
    // and requiring bit-identical 30-row tables.
    val docs = graft.core.Tables(spark, sf, "documents")
    def table(limit: Long) =
      graft.ml.Bpe.bpeMerges(docs, "text", nMerges = 30, localVocabLimit = limit)
        .orderBy("rank").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
        .toSeq
    val local = table(graft.ml.Bpe.defaultLocalVocabLimit)
    val dist = table(0L)
    assert(local.length == 30)
    assert(local == dist, s"paths diverged:\nlocal=${local.take(5)}\ndist=${dist.take(5)}")
  }

  test("encodeWord replays the trained merges; symbolize splits codepoints, not chars") {
    import graft.ml.Bpe
    // Sennrich fixture's learned table (pinned by the fixture spec above)
    val merges = Array(("e", "s"), ("es", "t"), ("est", "</w>"), ("l", "o"),
      ("lo", "w"), ("e", "w"), ("ew", "est</w>"), ("n", "ewest</w>"),
      ("low", "</w>"), ("d", "est</w>"))
    val rank = new java.util.HashMap[(String, String), Int]()
    merges.zipWithIndex.foreach { case (p, i) => rank.put(p, i) }
    def enc(w: String) = Bpe.encodeWord(w, rank, merges)
    // in-vocab words reach their trained final form (hand-derived by
    // replaying the 10 merges in rank order)
    assert(enc("newest") == Seq("newest</w>")) // n+ewest</w> at rank 8
    assert(enc("lowest") == Seq("low", "est</w>")) // unseen word, learned subwords
    assert(enc("low") == Seq("low</w>"))
    assert(enc("widest") == Seq("w", "i", "dest</w>")) // d+est</w> at rank 10
    // out-of-vocab text degrades to codepoints + marker
    assert(enc("zq") == Seq("z", "q", "</w>"))
    // non-BMP codepoint stays ONE symbol (r14 advice: toCharArray would
    // split the surrogate pair into two malformed half-symbols)
    val gothic = new String(Character.toChars(0x10348)) // 𐍈
    assert(Bpe.symbolize(s"a${gothic}b") == Seq("a", gothic, "b", "</w>"))
    assert(enc(s"a$gothic") == Seq("a", gothic, "</w>"))
  }

  test("llm_bpe_encode: per-word marker recovery and train→encode consistency") {
    // every word contributes exactly one '</w>'-suffixed subword, so the
    // n_words the token-stats row recovers from the encoded stream must
    // equal the tokenizer-input word count — checked over the corpus
    val out = QueriesLlm.queries("llm_bpe_token_stats")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.length == 500)
    // the tokenizer-input word count per doc, from the SAME regex
    // tokenizer the encode pass uses (Dedup.tokens — not the whitespace
    // count llm_token_stats reports)
    val words = graft.core.Tables(spark, sf, "documents")
      .select(col("doc_id"), size(graft.ml.Dedup.tokens(col("text"))).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { case (id, nWords, nBpe, fert) =>
      assert(nWords == words(id),
        s"doc $id: marker-recovered words ($nWords) != tokenizer input (${words(id)})")
      assert(nBpe >= nWords, s"doc $id: subwords ($nBpe) < words ($nWords)")
      if (nWords > 0)
        assert(math.abs(fert - nBpe.toDouble / nWords) < 1e-5, s"doc $id fertility")
    }
  }

  test("stream_bpe_encode equals batch exactly (stateless row-local encode)") {
    def canon(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long)] =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val batch = canon(QueriesLlm.queries("llm_bpe_encode")(spark, sf))
    val stream = canon(QueriesLlm.queries("stream_bpe_encode")(spark, sf))
    assert(batch.nonEmpty && batch == stream,
      s"batch ${batch.size} rows vs stream ${stream.size}")
  }

  test("stream_bpe_encode_gpt2 equals batch exactly (stateless row-local encode)") {
    def canon(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long)] =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val batch = canon(QueriesLlm.queries("llm_bpe_encode_gpt2")(spark, sf))
    val stream = canon(QueriesLlm.queries("stream_bpe_encode_gpt2")(spark, sf))
    assert(batch.nonEmpty && batch == stream,
      s"batch ${batch.size} rows vs stream ${stream.size}")
  }

  test("pretokensGpt2: hand-derived fixtures for every branch of the published rule") {
    import graft.ml.Bpe.pretokensGpt2
    // each case exercises a branch the DuckDB oracle's simplified regex
    // never sees on the single-spaced corpus (whitespace runs, the
    // lookahead, contractions, digit/punct runs, off-ASCII classes)
    val cases = Seq(
      "hello world" -> Seq("hello", " world"),
      "don't stop" -> Seq("don", "'t", " stop"),
      "it's 42 worlds!" -> Seq("it", "'s", " 42", " worlds", "!"),
      "we'll we've we're he'd I'm" ->
        Seq("we", "'ll", " we", "'ve", " we", "'re", " he", "'d", " I", "'m"),
      "can't've" -> Seq("can", "'t", "'ve"),
      "'S" -> Seq("'", "S"), // contractions are case-sensitive
      "a  b" -> Seq("a", " ", " b"), // \s+(?!\S) keeps the last space out
      "a   b" -> Seq("a", "  ", " b"),
      "trailing  " -> Seq("trailing", "  "), // terminal run stays whole
      "trailing " -> Seq("trailing", " "),
      " leading" -> Seq(" leading"),
      "tab\there" -> Seq("tab", "\t", "here"), // lone \s+: tab can't attach
      " \tx" -> Seq(" ", "\t", "x"),
      "x1y2" -> Seq("x", "1", "y", "2"),
      "hi!!! there..." -> Seq("hi", "!!!", " there", "..."),
      "caf\u00e9 au" -> Seq("caf\u00e9", " au"), // é is \p{L}
      "a\u00a0b" -> Seq("a", "\u00a0", "b"), // NBSP is \s, can't attach
      "" -> Seq.empty[String])
    cases.foreach { case (in, want) =>
      val got = pretokensGpt2(in)
      assert(got == want, s"pretokensGpt2(${in.replace("\t", "\\t")}): $got != $want")
      assert(got.mkString == in, s"pretokens must partition the input: $in")
    }
  }

  test("pretokensGpt2 == the published regex run by an independent engine (with lookahead)") {
    // java.util.regex executes the ACTUAL Radford et al. 2019 pattern —
    // lookahead, backtracking, leftmost-first alternation — with
    // UNICODE_CHARACTER_CLASS making its \s exactly the scanner's
    // whitespace set. A seeded fuzz over a deliberately nasty alphabet
    // (contraction stems, mixed scripts, digit marks, NBSP, tabs,
    // multi-space) pins the scanner to an engine we didn't write.
    val p = java.util.regex.Pattern.compile(
      "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+(?!\\S)|\\s+",
      java.util.regex.Pattern.UNICODE_CHARACTER_CLASS)
    def ref(s: String): Seq[String] = {
      val m = p.matcher(s)
      val b = scala.collection.mutable.ArrayBuffer.empty[String]
      while (m.find()) b += m.group()
      b.toSeq
    }
    val alphabet = "abzRE '''sstv0129!.,-\t\n\u00a0\u00e9\u4e16\u2163 "
    val rnd = new scala.util.Random(20260817L)
    var i = 0
    while (i < 800) {
      val len = rnd.nextInt(40)
      val s = Array.fill(len)(alphabet(rnd.nextInt(alphabet.length))).mkString
      val got = graft.ml.Bpe.pretokensGpt2(s)
      assert(got == ref(s),
        s"scanner diverged from the regex on ${s.replace("\t", "\\t").replace("\n", "\\n")}: " +
          s"$got vs ${ref(s)}")
      assert(got.mkString == s, s"partition property violated on $s")
      i += 1
    }
  }

  test("GPT-2 mode: byte-exact document roundtrip incl. whitespace the oracle can't see") {
    import spark.implicits._
    // text with double spaces, tabs, trailing space, contractions and a
    // multi-byte codepoint — everything the simplified oracle regex is
    // blind to; byte-mode decode must still reproduce it EXACTLY
    val docs = Seq(
      (1L, "the cat  sat\ton the mat "),
      (2L, "don't touch caf\u00e9 n\u00ba 42"),
      (3L, ""),
      (4L, "plain single spaced words like the corpus")).toDF("doc_id", "text")
    val merges = graft.ml.Bpe.bpeMerges(docs, "text", nMerges = 20, gpt2 = true)
      .orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val decoded = graft.ml.Bpe.encodeDocs(docs, "doc_id", "text", merges, gpt2 = true)
      .collect().map(r => (r.getLong(0), graft.ml.Bpe.decodeBytes(r.getSeq[String](1)))).toMap
    docs.collect().foreach { r =>
      assert(decoded(r.getLong(0)) == r.getString(1),
        s"doc ${r.getLong(0)}: decode(encode(text)) != text")
    }
    // GPT-2-mode vocabulary genuinely carries the space inside symbols —
    // rendered as the published 'Ġ' (U+0120) glyph since the r18
    // bytes_to_unicode remap, exactly how GPT-2 vocab files spell it
    assert(merges.exists(_._1.startsWith("Ġ")) ||
        merges.exists(m => (m._1 + m._2).startsWith("Ġ")),
      "no space-carrying ('Ġ'-prefixed) merge learned — pretokens lost their leading spaces")
    // and the merge-axis fork holds in GPT-2 mode too
    val dist = graft.ml.Bpe.bpeMerges(docs, "text", nMerges = 20, localVocabLimit = 0L,
        gpt2 = true)
      .orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(dist == merges, "GPT-2 local/distributed merge paths diverged")
  }

  test("byteGlyph pins the published bytes_to_unicode table (construction rule + spot glyphs)") {
    import graft.ml.Bpe
    // the published construction (Radford et al. 2019 encoder): the
    // three printable ranges map to themselves; every other byte takes
    // 0x100 + n in increasing byte order
    val printable = ((0x21 to 0x7E) ++ (0xA1 to 0xAC) ++ (0xAE to 0xFF)).toSet
    var n = 0
    (0 until 256).foreach { b =>
      if (printable(b)) assert(Bpe.byteGlyph(b) == b.toChar, f"printable byte 0x$b%02x must self-map")
      else { assert(Bpe.byteGlyph(b) == (0x100 + n).toChar, f"byte 0x$b%02x glyph"); n += 1 }
    }
    assert(n == 68, s"expected 68 remapped bytes, got $n")
    // the glyphs GPT-2 tooling is known by (vocab-file spellings)
    assert(Bpe.byteGlyph(' '.toInt) == 'Ġ')  // Ġ
    assert(Bpe.byteGlyph('\n'.toInt) == 'Ċ') // Ċ
    assert(Bpe.byteGlyph('\t'.toInt) == 'ĉ') // ĉ
    assert(Bpe.byteGlyph(0x7F) == 'ġ')
    assert(Bpe.byteGlyph(0xAD) == 'Ń')      // soft hyphen, the last remap
    // byte → glyph → byte is the identity (decode inverts encode)
    (0 until 256).foreach(b => assert(Bpe.glyphByte(Bpe.byteGlyph(b).toInt) == b))
    // distinctness: 256 distinct glyphs (no two bytes share a spelling)
    assert(Bpe.byteGlyph.toSet.size == 256)
  }

  test("oracle precondition: the driver corpus is in the simplified-regex regime") {
    // the llm_bpe_*_gpt2 oracles replay pre-tokenization with the
    // RE2-expressible pattern (no whitespace branches); that is exactly
    // equivalent iff the corpus is single-ASCII-spaced with no
    // leading/trailing/run whitespace and no regex metachars that could
    // break the oracle's '(sym)(sym)' delimiter encoding. Assert it at
    // both gate SFs so a regenerated fixture can't silently break the
    // equivalence.
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val bad = spark.read.parquet(s"$dir/documents.parquet")
        .where(not(col("text").rlike("^[a-z]+( [a-z]+)*$")) && col("text") =!= "")
        .count()
      assert(bad == 0L, s"$dir: $bad docs outside the [a-z ]-single-spaced regime")
    }
  }

  test("llm_embed_decontaminate: exactly the planted perturbation sources flag; each maps to its twin") {
    val out = QueriesLlm.queries("llm_embed_decontaminate")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    val n = out.length
    assert(n == 500, s"one row per corpus vector, got $n")
    val flagged = out.filter(_._4)
    // ground truth: the eval set is every 10th vector perturbed — those
    // sources (and only those) sit at cosine ~1 to an eval item
    assert(flagged.map(_._1).toSet == out.map(_._1).filter(_ % 10 == 0).toSet,
      s"contaminated set must be exactly the perturbation sources (${flagged.length} flagged)")
    flagged.foreach { case (id, nid, c, _) =>
      assert(nid == id + 100000L, s"vec $id nearest eval $nid, expected its twin")
      assert(c >= 0.99, s"vec $id twin cosine $c")
    }
    out.filterNot(_._4).foreach { case (id, _, c, _) =>
      assert(c < 0.95, s"clean vec $id reports max_cos $c") }
  }

  test("stream_embed_decontaminate equals batch exactly (stateless per-batch argmax)") {
    def canon(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double, Boolean)] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSet
    val batch = canon(QueriesLlm.queries("llm_embed_decontaminate")(spark, sf))
    val stream = canon(QueriesLlm.queries("stream_embed_decontaminate")(spark, sf))
    assert(batch.nonEmpty && batch == stream,
      s"batch ${batch.size} rows vs stream ${stream.size}")
  }

  test("semDedup: planted paraphrase clusters dedup to the centroid-nearest; distinct members survive") {
    import spark.implicits._
    // 4 well-separated direction groups (orthogonal bases — cross-group
    // cosine ~0). Per group: a 3-member near-identical "paraphrase"
    // trio (pairwise cosine > 0.999) + 1 distinct member (cosine to the
    // trio ≈ 0.89 < τ). Deterministic fixture, no RNG.
    val dim = 8
    def vec(base: Int, jitter: Double, extra: Int = -1, extraW: Double = 0.0): Seq[Float] = {
      val v = Array.fill(dim)(0.0)
      v(base) = 1.0
      v((base + 4) % dim) = jitter
      if (extra >= 0) v(extra) = extraW
      v.map(_.toFloat).toSeq
    }
    val rows = (0 until 4).flatMap { g =>
      val trio = (0 until 3).map(j => (g * 10L + j, vec(g, 0.01 * (j + 1))))
      val distinct = (g * 10L + 5, vec(g, 0.0, extra = (g + 5) % dim, extraW = 0.5))
      trio :+ distinct
    }
    val df = rows.toDF("vec_id", "embedding")
    val out = graft.ml.Similarity.semDedup(df, "vec_id", "embedding", dim,
        nCells = 4, threshold = 0.95, iters = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(out.length == 16, "every corpus row is classified")
    val keep = out.filter(_._4 == 1L).map(_._1).toSet
    (0 until 4).foreach { g =>
      val trioIds = Set(g * 10L, g * 10L + 1, g * 10L + 2)
      val kept = trioIds & keep
      assert(kept.size == 1, s"group $g: paraphrase trio must keep exactly one, kept $kept")
      // the survivor is the trio's max-(centroid_cos, smaller-id) member
      val trio = out.filter(r => trioIds.contains(r._1))
      val best = trio.maxBy(r => (r._3, -r._1))._1
      assert(kept.head == best, s"group $g: survivor ${kept.head} is not centroid-nearest $best")
      assert(keep.contains(g * 10L + 5), s"group $g: the distinct member must survive")
    }
    // survivor independence: no two same-cell survivors at cosine >= τ
    // (the property the pairwise loser rule guarantees within a cell)
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      dot / (na * nb)
    }
    val byId = rows.toMap
    val cells = out.map(r => r._1 -> r._2).toMap
    for {
      x <- keep; y <- keep if x < y && cells(x) == cells(y)
    } assert(cos(byId(x), byId(y)) < 0.95,
      s"survivors $x,$y share cell ${cells(x)} at cosine >= threshold")
    // every dropped row has a higher-priority same-cell tau-neighbor
    val pri = out.map(r => r._1 -> ((r._3, -r._1))).toMap
    out.filter(_._4 == 0L).foreach { case (id, cell, _, _) =>
      val beaten = out.exists(o => o._1 != id && o._2 == cell &&
        cos(byId(id), byId(o._1)) >= 0.95 &&
        Ordering[(Double, Long)].gt(pri(o._1), pri(id)))
      assert(beaten, s"dropped $id has no higher-priority near-dup in cell $cell")
    }
  }

  test("stream_dup_spans: a not-yet-reached eviction horizon equals NoTimeout exactly") {
    // The gate ships the eviction-capable path (1 h horizon); this spec
    // pins the claim that makes its oracle valid — a horizon the run
    // never reaches is bit-identical to unbounded retention.
    def canon(df: org.apache.spark.sql.DataFrame): Vector[String] = {
      val cols = df.columns.sorted.toSeq
      df.select(cols.map(col): _*).collect()
        .map(_.toSeq.map(String.valueOf).mkString("")).toVector.sorted
    }
    val unbounded = canon(QueriesLlm.streamDupSpans(spark, sf, None))
    val horizon = canon(QueriesLlm.streamDupSpans(spark, sf, Some(3600L * 1000)))
    assert(unbounded.nonEmpty, "planted corpus carries duplicated spans at the spec SF")
    assert(horizon == unbounded,
      s"eviction horizon diverged: NoTimeout ${unbounded.size} rows, horizon ${horizon.size}")
  }

  test("StreamDedup: singleton digests age out past the horizon; viral state survives") {
    // Hand-built occurrence stream, one file per micro-batch:
    //   batch 0: digest 42 first occurrence (doc 0) + digest 11 twice (viral)
    //   batches 1-2: filler digests (the horizon elapses; timeouts fire
    //                for keys WITHOUT new data)
    //   batch 3: digest 42 again (doc 5) + digest 11 a third time
    // With a 1 ms horizon, digest 42's singleton state is evicted during
    // the filler batches, so its batch-3 recurrence reads as a fresh
    // singleton — the documented straddling-duplicate recall trade. The
    // viral digest 11 is never evicted: its third occurrence still emits.
    import spark.implicits._
    def occFile(rows: Seq[(Long, Int, Long)]) =
      rows.toDF("doc_id", "pos", "h")
    val inDir = Run.writeSplitDir("sds_evict", Seq(
      (occFile(Seq((0L, 0, 42L), (1L, 0, 11L), (2L, 0, 11L))), "0_occ.parquet"),
      (occFile(Seq((100L, 0, 777L))), "1_occ.parquet"),
      (occFile(Seq((101L, 0, 888L))), "2_occ.parquet"),
      (occFile(Seq((5L, 3, 42L), (3L, 0, 11L))), "3_occ.parquet")))
    def run(evict: Option[Long]): (Set[(Long, Int)], Long) = {
      val ss = spark.newSession()
      import ss.implicits._
      val schema = ss.read.parquet(inDir.resolve("0_occ.parquet").toString).schema
      val occ = ss.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(inDir.toString)
        .toDF("_1", "_2", "_3").as[(Long, Int, Long)]
      val sink = s"sds_evict_${evict.isDefined}"
      val ckpt = TempDir("sds_evict_ckpt").toFile
      // paced continuous trigger + drained-input stop for the eviction
      // run: under ProcessingTimeTimeout the engine schedules no-data
      // batches forever, so neither AvailableNow nor processAllAvailable
      // ever returns (see Run.drainAndStop); the pacing also
      // guarantees the 1 ms horizon elapses between micro-batches
      val writer = graft.streaming.StreamDedup.dupOccurrences(occ, evict)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").option("checkpointLocation", ckpt.getPath)
      if (evict.isDefined) {
        val q = writer
          .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(20L)).start()
        Run.drainAndStop(q)
        val removed = q.recentProgress
          .flatMap(p => Option(p.stateOperators).toSeq.flatten)
          .map(_.numRowsRemoved).sum
        val out = ss.table(sink).collect()
          .map(r => (r.getLong(0), r.getInt(1))).toSet
        return (out, removed)
      }
      val q = writer
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val removed = q.recentProgress
        .flatMap(p => Option(p.stateOperators).toSeq.flatten)
        .map(_.numRowsRemoved).sum
      val out = ss.table(sink).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
      (out, removed)
    }
    val (unbounded, removed0) = run(None)
    assert(unbounded == Set((1L, 0), (2L, 0), (0L, 0), (5L, 3), (3L, 0)),
      s"NoTimeout must flag both digests' occurrences, got $unbounded")
    assert(removed0 == 0L, "NoTimeout must never evict state")
    val (evicted, removed1) = run(Some(1L))
    assert(evicted == Set((1L, 0), (2L, 0), (3L, 0)),
      s"past-horizon singleton must be missed, viral digest must survive eviction, got $evicted")
    assert(removed1 >= 1L, "eviction must remove the aged singleton state row")
  }

  test("llm_weighted_mix: every weight factor is active and the coin splits the corpus") {
    val out = QueriesLlm.queries("llm_weighted_mix")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(out.nonEmpty)
    // dup factor active: the planted ≤40-token twins give dup_cnt 2 rows
    assert(out.exists(_._2 >= 2L), "dup_cnt > 1 must occur (planted twins)")
    assert(out.exists(_._2 === 1L), "dup_cnt == 1 must occur")
    // weights non-constant and in [0, 1]
    assert(out.map(_._3).distinct.length > 10, "weights must vary across docs")
    assert(out.forall(r => r._3 >= 0.0 && r._3 <= 1.0), "weight is a probability")
    // the coin both keeps and drops
    assert(out.exists(_._4 == 1L), "some docs kept")
    assert(out.exists(_._4 == 0L), "some docs dropped")
    // a duplicated copy never outweighs its identical original's weight
    // class: dup_cnt=2 rows weigh half their quality/dsir product
    val kept = out.count(_._4 == 1L).toDouble / out.length
    assert(kept > 0.01 && kept < 0.99, s"keep rate $kept must be a real split")
  }

  test("bm25 matches a hand-computed score") {
    import spark.implicits._
    // 3 docs, query = {x}: df(x)=2, N=3, avgdl = (3+2+4)/3
    val corpus = Seq(
      (1L, "x y x"),     // tf=2, dl=3
      (2L, "x z"),       // tf=1, dl=2
      (3L, "p q r s")    // no hit
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bm25(corpus, "doc_id", "text", Seq("x"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val k1 = 1.2; val b = 0.75; val avgdl = 3.0; val n = 3.0; val df = 2.0
    val idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
    def s(tf: Double, dl: Double) = idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
    assert(got.keySet == Set(1L, 2L))
    assert(math.abs(got(1L) - s(2, 3)) < 1e-12, s"${got(1L)} vs ${s(2, 3)}")
    assert(math.abs(got(2L) - s(1, 2)) < 1e-12)
    assert(got(1L) > got(2L), "higher tf at comparable dl ranks higher")
  }

  test("assignCellHier: high agreement with the flat scan; perturbed twins co-locate") {
    // clustered fixture (the shape k-means-trained centroids actually
    // see): 100 unit centroids, 2000 vectors each near one of them
    val rnd = new scala.util.Random(7)
    val dim = 16
    def unit(v: Array[Double]) = { val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
    def gauss() = unit(Array.fill(dim)(rnd.nextGaussian()))
    val cents = Array.fill(100)(gauss())
    val vecs = (0 until 2000).map { i =>
      val base = cents(rnd.nextInt(100))
      val noisy = unit(base.zip(Array.fill(dim)(rnd.nextGaussian() * 0.1)).map { case (a, b) => a + b })
      val twin = unit(noisy.zip(Array.fill(dim)(rnd.nextGaussian() * 0.01)).map { case (a, b) => a + b })
      (i.toLong, noisy.toSeq, twin.toSeq)
    }.toDF("id", "a", "b")
    val flat = Similarity.assignCell(cents)
    val hier = Similarity.assignCellHier(cents)
    val (agree, twinsTogether) = vecs
      .agg(avg(when(flat(col("a")) === hier(col("a")), 1.0).otherwise(0.0)),
        avg(when(hier(col("a")) === hier(col("b")), 1.0).otherwise(0.0)))
      .as[(Double, Double)].head()
    assert(agree >= 0.95, s"flat/hier agreement $agree")
    assert(twinsTogether >= 0.98, s"perturbed twins co-located only $twinsTogether")
    // semDedup through the hier path (nCells >= 64 threshold) still
    // resolves planted twin pairs: one survivor per pair
    val emb = vecs.select(col("id").as("vec_id"),
        col("a").cast("array<float>").as("embedding"))
      .unionByName(vecs.select((col("id") + 100000L).as("vec_id"),
        col("b").cast("array<float>").as("embedding")))
    val out = Similarity.semDedup(emb, "vec_id", "embedding", dim,
      nCells = 64, threshold = 0.99, iters = 2, trainMod = 1)
    val pairKept = out.withColumn("base", pmod(col("vec_id"), lit(100000L)))
      .groupBy("base").agg(sum("keep").as("k"))
    val resolved = pairKept.agg(avg(when(col("k") === 1L, 1.0).otherwise(0.0)))
      .as[Double].head()
    assert(resolved >= 0.95, s"twin pairs resolved to one survivor: $resolved")
  }

  test("assignCellHierQ: high agreement with the flat scan; quantized twins co-locate") {
    // the float hier gate's fixture quantized: clustered vectors in
    // micro-units, integer coarse Lloyd's, squared-L2 probe
    val rnd = new scala.util.Random(7)
    val dim = 16
    def unit(v: Array[Double]) = { val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
    def gauss() = unit(Array.fill(dim)(rnd.nextGaussian()))
    def q(v: Array[Double]): Seq[Long] = v.map(x => math.floor(x * 1048576.0 + 0.5).toLong).toSeq
    val cents = Array.fill(100)(gauss()).map(v => q(v).toArray)
    val vecs = (0 until 2000).map { i =>
      val base = cents(rnd.nextInt(100))
      val noisy = base.map(x => x + (rnd.nextGaussian() * 0.1 * 1048576.0).toLong)
      val twin = noisy.map(x => x + (rnd.nextGaussian() * 0.01 * 1048576.0).toLong)
      (i.toLong, noisy.toSeq, twin.toSeq)
    }.toDF("id", "a", "b")
    val flat = Similarity.assignCellQ(cents)
    val hier = Similarity.assignCellHierQ(cents)
    val (agree, twinsTogether) = vecs
      .agg(avg(when(flat(col("a")) === hier(col("a")), 1.0).otherwise(0.0)),
        avg(when(hier(col("a")) === hier(col("b")), 1.0).otherwise(0.0)))
      .as[(Double, Double)].head()
    assert(agree >= 0.95, s"flat/hier agreement $agree")
    assert(twinsTogether >= 0.98, s"quantized twins co-located only $twinsTogether")
  }

  test("lmScoreHashed: corpus-frequent bigrams outscore rare ones; short docs drop") {
    val common = (1 to 8).map(i => (i.toLong, "the quick brown fox jumps over the lazy dog"))
    val fix = (common :+ (98L, "zxq1 wvu2 tsr3 qpo4 nml5 kji6 hgf7") :+ (99L, "single"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.lmScoreHashed(fix, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(!out.contains(99L), "a 1-token doc has no bigrams and no row")
    assert(out(1L)._2 == 8L, s"bigram count: ${out(1L)._2}") // 9 tokens -> 8 bigrams
    val commonMin = (1 to 8).map(i => out(i.toLong)._1).min
    assert(out(98L)._1 < commonMin,
      s"gibberish ${out(98L)._1} should score below common $commonMin")
    // identical docs score identically (pure function of corpus + text)
    assert((1 to 8).map(i => out(i.toLong)).distinct.size == 1)
  }

  test("lmScoreWith: unseen buckets get the add-one-smoothed probability, not dropped") {
    // deployment topology: model frozen on corpus A, NEW docs scored
    // against it — every bucket of the new doc may be absent from the
    // model tables. The inner-join form silently dropped those
    // occurrences (and whole docs); left+coalesce must keep them at the
    // smoothed count-0 probability (the +1 exists for unseen events).
    val train = (1L to 4L).map(i => (i, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val m = TextAnalysis.lmModelHashed(train, "text")
    val unseen = "zzqx1 zzqx2 zzqx3 zzqx4"
    val score = Seq((10L, "the quick brown fox"), (20L, unseen)).toDF("doc_id", "text")
    val out = TextAnalysis.lmScoreWith(m, score, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(out.contains(20L), "an all-unseen-bigram doc must still be scored")
    assert(out(20L)._2 == 3L, s"bigram count: ${out(20L)._2}")
    // replay the rule in plain Scala: bucket = first-8-md5-hex mod 10000
    def bucket(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      v % 10000
    }
    val uni = m.uniBf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bi = m.biBf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def expected(text: String): Double = {
      val t = text.split(" ").toSeq
      val ps = t.sliding(2).map { bg =>
        val bc = bi.getOrElse(bucket(bg.mkString(" ")), 0L)
        val uc1 = uni.getOrElse(bucket(bg.head), 0L)
        val uc2 = uni.getOrElse(bucket(bg.last), 0L)
        math.log10(0.7 * (bc + 1.0) / (uc1 + 10000.0) +
          0.3 * (uc2 + 1.0) / (m.uTot + 10000.0))
      }.toSeq
      ps.sum / ps.size
    }
    assert(math.abs(out(20L)._1 - expected(unseen)) < 1e-12,
      s"unseen-doc score ${out(20L)._1} vs closed form ${expected(unseen)}")
    assert(math.abs(out(10L)._1 - expected("the quick brown fox")) < 1e-12)
    assert(out(20L)._1 < out(10L)._1, "unseen text scores below in-model text")
  }

  test("stream_semdedup equals batch semDedup exactly (frozen centroids, priority-ordered fixture)") {
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val batch = canon(QueriesLlm.queries("llm_semdedup")(spark, sf))
    val stream = canon(QueriesLlm.queries("stream_semdedup")(spark, sf))
    assert(batch.nonEmpty && batch == stream,
      s"batch ${batch.size} rows vs stream ${stream.size}")
    assert(batch.exists(_._4 == 0L), "fixture must contain dropped near-dups")
  }

  test("StreamSemDedup: cross-batch state; a DROPPED row still eliminates lower-priority rows") {
    // the transitive chain the gate corpus may not contain: cos(A,B) ≥ τ,
    // cos(B,C) ≥ τ, cos(A,C) < τ. Batch loser rule drops B (loses to A)
    // AND C (loses to B — a loser still eliminates); the stream must
    // agree with A arriving one micro-batch EARLIER than B and C.
    val th = math.acos(0.96)
    def at(a: Double) = Seq(math.cos(a), math.sin(a), 0.0, 0.0)
    val ss = spark.newSession()
    import ss.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = ss.sqlContext
    val in = MemoryStream[(Long, Int, Double, Seq[Double])]
    val decided = graft.streaming.StreamSemDedup.keepDecisions(in.toDS(), threshold = 0.95)
    val ckpt = TempDir("ssdspec_ckpt").toFile
    val q = decided.writeStream.format("memory").queryName("ssd_spec_sink")
      .outputMode("append").option("checkpointLocation", ckpt.getPath).start()
    in.addData((1L, 0, 0.9, at(0)))                          // A, batch 1
    q.processAllAvailable()
    in.addData((3L, 0, 0.7, at(2 * th)), (2L, 0, 0.8, at(th))) // C, B out of order: batch 2 sorts by priority
    q.processAllAvailable()
    Run.stop(q)
    val out = ss.table("ssd_spec_sink")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out == Map(1L -> 1L, 2L -> 0L, 3L -> 0L),
      s"expected A kept, B and C dropped (transitive via dropped B); got $out")
    // sanity: the chain is as constructed
    assert(graft.streaming.StreamSemDedup.cosineKernel(at(0), at(th)) >= 0.95)
    assert(graft.streaming.StreamSemDedup.cosineKernel(at(th), at(2 * th)) >= 0.95)
    assert(graft.streaming.StreamSemDedup.cosineKernel(at(0), at(2 * th)) < 0.95)
  }

  test("eviction horizon FIRES: a timed-out semantic cell forgets its history (the recall trade, exercised)") {
    // r18 verdict, What's missing #3: every gate ran a never-reached
    // horizon pinned equal to NoTimeout — the state.hasTimedOut branch
    // (StreamSemDedup.keepDecisionsQ) had no spec in which it actually
    // executed. Here it does: cell 0 seeds history in batch 1; the
    // horizon passes with only OTHER-cell traffic (batch 2 — timeouts
    // fire for keys WITHOUT data, so the foreign row is what triggers
    // processing); a near-dup of the seeded vector then arrives and is
    // KEPT (history evicted — the documented missed-dup recall trade),
    // where the NoTimeout control drops it against the seed.
    val ss = spark.newSession()
    import ss.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = ss.sqlContext
    var n = 0
    def run(evict: Option[Long]): Map[Long, Long] = {
      n += 1
      val in = MemoryStream[(Long, Int, Long, Seq[Long])]
      val decided = graft.streaming.StreamSemDedup.keepDecisionsQ(
        in.toDS(), threshold = 100L, evictCellAfterMs = evict)
      val ckpt = TempDir(s"evict_ckpt$n").toFile
      val sink = s"evict_fire_sink$n"
      // NOT processAllAvailable: with ProcessingTimeTimeout the engine
      // keeps scheduling timeout-check batches, so `noNewData` never
      // settles and processAllAvailable hangs — poll the sink for the
      // expected row count instead (bounded)
      val q = decided.writeStream.format("memory").queryName(sink)
        .outputMode("append").option("checkpointLocation", ckpt.getPath)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
        .start()
      def await(rows: Long): Unit = {
        val t0 = System.currentTimeMillis()
        while (ss.table(sink).count() < rows) {
          assert(System.currentTimeMillis() - t0 < 60000, s"sink stuck below $rows rows")
          Thread.sleep(100)
        }
      }
      in.addData((1L, 0, 10L, Seq(0L, 0L, 0L, 0L))) // cell 0: the history
      await(1)
      Thread.sleep(900) // > the 300 ms horizon: cell 0 times out
      in.addData((2L, 1, 9L, Seq(1000L, 0L, 0L, 0L))) // cell 1 traffic
      await(2)
      in.addData((3L, 0, 8L, Seq(1L, 0L, 0L, 0L))) // near-dup of id 1 (d²=1 ≤ 100)
      await(3)
      Run.stop(q)
      ss.table(sink).collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    }
    val evicted = run(Some(300L))
    assert(evicted == Map(1L -> 1L, 2L -> 1L, 3L -> 1L),
      s"fired horizon must FORGET cell 0's history (id 3 kept); got $evicted")
    val control = run(None)
    assert(control == Map(1L -> 1L, 2L -> 1L, 3L -> 0L),
      s"NoTimeout control must drop id 3 against the seed; got $control")
  }

  test("eviction horizon FIRES in StreamPhash: a timed-out bucket forgets its prints") {
    // same shape for the banded-pair state machine: bucket (0, 7) holds
    // print A; the horizon passes on foreign-bucket traffic; A's twin
    // then arrives and NO pair is emitted (bucket state removed via the
    // hasTimedOut branch) — the NoTimeout control emits (1, 3).
    val ss = spark.newSession()
    import ss.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = ss.sqlContext
    var n = 0
    def run(evict: Option[Long]): Set[(Long, Long)] = {
      n += 1
      val in = MemoryStream[(Long, Long, Int, Long)] // (id, sig, block, key)
      val pairs = graft.streaming.StreamPhash.candidatePairs(
        in.toDS(), maxHamming = 3, blocks = 4, evictBucketAfterMs = evict)
      val ckpt = TempDir(s"evictp_ckpt$n").toFile
      val sink = s"evictp_fire_sink$n"
      // poll-the-sink pattern (see the semantic-cell twin above): pair
      // emission has no fixed row count per input, so poll for QUIESCE —
      // batches stop producing — via two consecutive equal counts after
      // each feed step, under a ProcessingTime trigger
      val q = pairs.writeStream.format("memory").queryName(sink)
        .outputMode("append").option("checkpointLocation", ckpt.getPath)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
        .start()
      // timeouts keep empty batches flowing, so there is no quiesce to
      // wait for — instead await the INPUT-rows total crossing each
      // feed's cumulative count (a progress entry is posted only after
      // its batch commits, so once the row is counted its output is in
      // the sink)
      def awaitInput(rows: Long): Unit = {
        val t0 = System.currentTimeMillis()
        def seen: Long = q.recentProgress
          .map(p => p.batchId -> p.numInputRows).toMap.values.sum
        while (seen < rows) {
          assert(System.currentTimeMillis() - t0 < 60000, s"input stuck below $rows rows")
          Thread.sleep(100)
        }
      }
      // sigs equal outside block 0, one low bit flipped: hamming 1,
      // min matching block = 1 — the bucket both occurrences feed
      val sigA = 0x00AA00000000F00FL
      val sigB = 0x00AA00000000F00DL
      in.addData((1L, sigA, 1, (sigA >>> 16) & 0xFFFFL))
      awaitInput(1)
      Thread.sleep(900) // > the 300 ms horizon: empty batches fire the timeout
      in.addData((9L, 0x1234L, 0, 0x1234L)) // foreign-bucket traffic
      awaitInput(2)
      in.addData((2L, sigB, 1, (sigB >>> 16) & 0xFFFFL))
      awaitInput(3)
      Run.stop(q)
      ss.table(sink).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val evicted = run(Some(300L))
    assert(!evicted.contains((1L, 2L)),
      s"fired horizon must forget print 1 (no pair); got $evicted")
    val control = run(None)
    assert(control.contains((1L, 2L)),
      s"NoTimeout control must emit the (1,2) pair; got $control")
  }

  test("eviction horizon FIRES in StreamDedup: a timed-out singleton digest is forgotten") {
    // the spans-family state machine's hasTimedOut branch executed for
    // real (r18 verdict, missing #3 named this family explicitly):
    // digest 42's first occurrence is held as a singleton; the horizon
    // passes on foreign-digest traffic; the SECOND occurrence then
    // arrives and emits NOTHING (the held first occurrence was evicted,
    // so the pair is never seen — the TTL'd-dedupe-cache recall trade),
    // where the NoTimeout control turns the digest viral and emits both
    // occurrences. Viral digests are never re-armed, so eviction only
    // ever touches singletons — asserted by the control's stability.
    val ss = spark.newSession()
    import ss.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = ss.sqlContext
    var n = 0
    def run(evict: Option[Long]): Set[(Long, Int)] = {
      n += 1
      val in = MemoryStream[(Long, Int, Long)] // (doc_id, pos, digest)
      val dups = graft.streaming.StreamDedup.dupOccurrences(
        in.toDS(), evictSingletonsAfterMs = evict)
      val ckpt = TempDir(s"evictd_ckpt$n").toFile
      val sink = s"evictd_fire_sink$n"
      val q = dups.writeStream.format("memory").queryName(sink)
        .outputMode("append").option("checkpointLocation", ckpt.getPath)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
        .start()
      def awaitInput(rows: Long): Unit = {
        val t0 = System.currentTimeMillis()
        def seen: Long = q.recentProgress
          .map(p => p.batchId -> p.numInputRows).toMap.values.sum
        while (seen < rows) {
          assert(System.currentTimeMillis() - t0 < 60000, s"input stuck below $rows rows")
          Thread.sleep(100)
        }
      }
      in.addData((1L, 0, 42L)) // digest 42: held singleton
      awaitInput(1)
      Thread.sleep(900) // > the 300 ms horizon
      in.addData((9L, 0, 99L)) // foreign digest → 42's singleton times out
      awaitInput(2)
      in.addData((2L, 1, 42L)) // the would-be duplicate
      awaitInput(3)
      Run.stop(q)
      ss.table(sink).collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    }
    val evicted = run(Some(300L))
    assert(evicted.isEmpty,
      s"fired horizon must forget the singleton (no dup emitted); got $evicted")
    val control = run(None)
    assert(control == Set((1L, 0), (2L, 1)),
      s"NoTimeout control must emit both occurrences of digest 42; got $control")
  }

  test("stream_lm_score equals the batch scorer exactly (frozen model, shared column code)") {
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    val batch = canon(QueriesLlm.queries("llm_lm_score")(spark, sf))
    val stream = canon(QueriesLlm.queries("stream_lm_score")(spark, sf))
    assert(batch.nonEmpty && batch == stream,
      s"batch ${batch.size} rows vs stream ${stream.size}")
  }

  test("llm_shard_shuffle: per-shard positions replay the (coin, doc_id) order exactly") {
    val out = QueriesLlm.queries("llm_shard_shuffle")(spark, sf)
    // recompute the full rule independently with the plain window (fine
    // at spec SF; the gate's scalableRowNumber is the scale form) and
    // assert bit-equality — covers shard assignment, ordering, and the
    // 1..n contiguity of positions in one shot
    val coin = TextAnalysis.sampleCoin(col("doc_id"), "graftshard")
    val expect = docs.select(col("doc_id"), coin.as("_c"))
      .withColumn("shard", pmod(col("_c"), lit(8L)))
      .withColumn("pos_in_shard", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("shard")
          .orderBy(col("_c"), col("doc_id"))).cast("long"))
      .select("doc_id", "shard", "pos_in_shard")
    assert(out.count() == docs.count())
    assert(out.except(expect).isEmpty && expect.except(out).isEmpty)
    // all 8 shards populated at this SF, sizes near-balanced (md5 coin)
    val sizes = out.groupBy("shard").count().select("count").as[Long].collect()
    assert(sizes.length == 8, s"expected 8 shards, got ${sizes.length}")
  }

  test("llm_dedup_keep_best keeps the max-quality member, not the min id") {
    // planted cluster: doc 0 is a LOW-quality near-dup of the HIGHER-
    // quality doc 1 (shared 3-shingles + consecutive ids → a jaccard
    // edge; plantedCorpus adds same-text twins at +100000 via star
    // edges) → one 4-member cluster labeled 0 whose keeper must be 1 —
    // the min-id rule (llm_dedup_resolve) would keep 0.
    val t0 = "cat sat mat door dog x1 x2 x3"
    val t1 = "the cat sat mat door dog and it is that good for the day in a town"
    val fix = Seq((0L, t0), (1L, t1)).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("fix"))
      .withColumn("n_chars", length(col("text")))
    val fixDir = TempDir("mlspec_keepbest").toString
    fix.write.mode("overwrite").parquet(s"$fixDir/documents.parquet")
    val kept = QueriesLlm.queries("llm_dedup_keep_best")(spark, fixDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(kept.toSeq == Seq((0L, 1L, 1.0, 4L)),
      s"cluster 0 should keep doc 1 (quality 1.0 of 4 members): ${kept.toSeq}")

    // corpus-wide property at spec SF: every keeper is its cluster's
    // quality max (doc_id tiebreak), n_members matches the shared graph
    val clusters = QueriesLlm.queries("llm_dedup_resolve")(spark, sf)
      .select("doc_id", "cluster_id")
    val q = QueriesLlm.plantedCorpus(spark, sf)
      .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("q"))
    val best = clusters.join(q, "doc_id")
      .groupBy("cluster_id").agg(count(lit(1)).as("n"),
        max_by(struct(col("doc_id"), col("q")), struct(col("q"), -col("doc_id"))).as("w"))
      .select(col("cluster_id"), col("w.doc_id").as("doc_id"),
        col("w.q").as("quality"), col("n").as("n_members"))
    val got = QueriesLlm.queries("llm_dedup_keep_best")(spark, sf)
    assert(got.except(best).isEmpty && best.except(got).isEmpty)
    // non-vacuity: multi-member clusters exist
    assert(got.filter(col("n_members") > 1).count() > 0)
  }

  test("band-pairs family: planted bit-flip twins pair exactly by radius; r7 cap binds") {
    // INDEPENDENT expectation, computed from the fixture's planting rule
    // without the pairing machinery: every k%4==0 sig row has a twin at
    // id+50 whose fingerprint differs in h = (doc_id + k) % 9 bits, so
    // radius r must pair exactly the h <= r twins (pigeonhole recall with
    // an inert cap) and nothing else (60-bit md5 fingerprints make a
    // false pair astronomically unlikely AND deterministic if it ever
    // appeared — the DuckDB oracle replays it identically).
    val (base, twins) = QueriesLlm.bandSigParts(spark, gateSf)
    val h = ((col("id") - 50L) / 100L).cast("long").plus((col("id") - 50L) % 100L) % 9L
    val expect = twins.select((col("id") - 50L).as("id_a"), col("id").as("id_b"), h.as("h"))
      .as[(Long, Long, Long)].collect().toSeq
    def got(name: String): Set[(Long, Long, Long)] =
      QueriesLlm.queries(name)(spark, gateSf)
        .select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect().toSet

    val r3 = got("llm_band_pairs")
    val exp3 = expect.filter(_._3 <= 3).map(t => (t._1, t._2, t._3)).toSet
    assert(r3 == exp3, s"r3: got ${r3.size}, expected ${exp3.size} planted h<=3 twins")

    val exp7 = expect.filter(_._3 <= 7).map(t => (t._1, t._2, t._3)).toSet
    val stream = got("stream_band_pairs")
    assert(stream == exp7,
      s"stream (inert cap): got ${stream.size}, expected ${exp7.size} planted h<=7 twins")

    // batch==stream at the inert cap, via the machinery itself
    val inert = graft.ml.Dedup.hammingBandedPairs(
        base.unionByName(twins), "id", "fp", maxHamming = 7)
      .select(col("id_a"), col("id_b"), col("hamming").cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    assert(inert == stream, "batch inert-cap != streaming emitted set")

    // the r7 gate's cap = 32 BINDS: strict subset, nothing new admitted
    val r7 = got("llm_band_pairs_r7")
    assert(r7.subsetOf(exp7), "capped r7 admitted a non-planted pair")
    assert(r7.size < exp7.size,
      s"cap 32 did not bind at the gate SF (${r7.size} == ${exp7.size}) — " +
        "the r7 gate would no longer exercise the bucket-cap branch")
  }

  test("stream_phash_resolve == llm_phash_resolve (incremental union-find confluence)") {
    // min-label CC folded incrementally over the streamed pair batches
    // must equal one batch CC over all pairs — confluence, asserted on
    // the real fixture next to the shared pin
    val batch = QueriesLlm.queries("llm_phash_resolve")(spark, gateSf)
      .as[(Long, Long, Long)].collect().toSet
    val stream = QueriesLlm.queries("stream_phash_resolve")(spark, gateSf)
      .as[(Long, Long, Long)].collect().toSet
    assert(batch == stream,
      s"batch-only ${(batch -- stream).take(3)} stream-only ${(stream -- batch).take(3)}")
    // non-vacuity: duplicate clusters exist (keep = 0 rows present)
    assert(stream.exists(_._3 == 0L), "no multi-member cluster in the fixture")
  }

  test("byte-level BPE: no </w> marker, byte alphabet, fixture merges hand-derived") {
    // the Sennrich running example WITHOUT the end-of-word marker: the
    // learned table genuinely differs (no est+</w> merge exists; the
    // cascade ends in whole words) — expected rows re-derived by hand
    // and cross-checked with an independent reference implementation
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val corpus = Seq((1L, text)).toDF("doc_id", "text")
    def table(limit: Long) =
      graft.ml.Bpe.bpeMerges(corpus, "text", nMerges = 10,
          localVocabLimit = limit, byteLevel = true)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq
    val expected = Seq(
      ("e", "s", 9L), ("es", "t", 9L), ("l", "o", 7L), ("lo", "w", 7L),
      ("e", "w", 6L), ("ew", "est", 6L), ("n", "ewest", 6L),
      ("d", "est", 3L), ("i", "dest", 3L), ("w", "idest", 3L))
    val local = table(graft.ml.Bpe.defaultLocalVocabLimit)
    assert(local == expected, s"byte merge table:\n${local.mkString("\n")}")
    // the merge-axis fork holds in byte mode too: bit-identical paths
    assert(table(0L) == expected, "distributed byte-level path diverged")

    // where byte-level and codepoint modes genuinely diverge (the
    // DuckDB oracle only sees the ASCII regime): multi-byte codepoints
    // split into their UTF-8 BYTES, and there is no marker symbol
    import graft.ml.Bpe
    assert(Bpe.symbolizeBytes("ab") == Seq("a", "b"))
    assert(Bpe.symbolizeBytes("\u00e9").map(_.charAt(0).toInt) == Seq(0xC3, 0xA9))
    val gothic = new String(Character.toChars(0x10348)) // U+10348: 4 UTF-8 bytes
    assert(Bpe.symbolizeBytes(gothic).length == 4)
    assert(Bpe.symbolize(gothic).length == 2) // codepoint mode: symbol + </w>
  }

  test("hammingBandedPairs: pigeonhole recall + soundness on seeded random twins (r3, r7)") {
    // NOT the fixed md5 fixture: an arbitrary seeded fingerprint
    // population with random <= 7-bit flips. Pigeonhole guarantees 100%
    // recall at an inert cap for ANY distribution, and xor at distinct
    // positions makes each planted pair's hamming EXACTLY its flip
    // count — both asserted, plus soundness (nothing beyond the radius
    // is ever reported).
    val rnd = new scala.util.Random(20260816L)
    val rows = (0 until 2000).map { i =>
      val fp = rnd.nextLong()
      val h = rnd.nextInt(8) // 0..7 flips
      val pos = rnd.shuffle((0 until 64).toList).take(h)
      val twin = pos.foldLeft(fp)((a, p) => a ^ (1L << p))
      (i.toLong, fp, 100000L + i, twin, h)
    }
    val sigs = rows.flatMap { case (ia, fa, ib, fb, _) => Seq((ia, fa), (ib, fb)) }
      .toDF("id", "fp")
    for (r <- Seq(3, 7)) {
      val got = Dedup.hammingBandedPairs(sigs, "id", "fp", maxHamming = r)
        .select(col("id_a"), col("id_b"), col("hamming").cast("int"))
        .as[(Long, Long, Int)].collect()
        .map { case (a, b, h) => (a, b) -> h }.toMap
      rows.filter(_._5 <= r).foreach { case (ia, _, ib, _, h) =>
        assert(got.contains((ia, ib)), s"radius $r missed planted twin $ia (h=$h)")
        assert(got((ia, ib)) == h, s"pair ($ia,$ib) hamming ${got((ia, ib))} != flips $h")
      }
      got.values.foreach(h => assert(h <= r, s"radius $r emitted hamming $h"))
    }
  }

  test("localMinLabel == connectedComponents on seeded random graphs (the resolve fork)") {
    // the resolution fork's equality pin (the bpeMerges local==distributed
    // convention): the driver kernel and the distributed operator produce
    // the exact same min-label set. On the default session AQE coalesces
    // the edges into one partition, which contraction labels completely.
    val got = ccLabels(spark, ccGraph)
    assert(Dedup.lastConvergedRounds == 0,
      s"one coalesced partition ran ${Dedup.lastConvergedRounds} rounds")
    assert(got == kernelLabels(ccGraph).sorted,
      s"diverged: cc ${got.take(3)}... kernel ${kernelLabels(ccGraph).sorted.take(3)}...")
  }

  test("runIncrementalResolve: cadence is invisible, incl. the trailing partial group") {
    import spark.implicits._
    // 5 micro-batches with compactEvery=3: ONE in-stream compaction at
    // bid 2, then batches 3-4 drain into `pending` and only the
    // post-drain `compact(..., "final")` branch can fold them — the two
    // branches r16 flagged as reached by NO execution anywhere (gate
    // ran N=1; probe ran 8 splits with N=4). The last batches carry
    // edges that BRIDGE components, so a broken trailing compaction
    // cannot produce the expected labeling.
    val batches = Seq(
      Seq((1L, 2L), (2L, 3L)),
      Seq((10L, 11L)),
      Seq((3L, 4L)),
      Seq((11L, 12L), (20L, 21L)),
      Seq((21L, 22L), (4L, 20L))) // bridges {1..4} with {20,21,22}
    val inDir = Run.writeSplitDir("cadence_in",
      batches.zipWithIndex.map { case (b, i) =>
        (b.toDF("id_a", "id_b"), s"${i}_pairs.parquet") })
    val expected = Set(
      (1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (20L, 1L), (21L, 1L), (22L, 1L),
      (10L, 10L), (11L, 10L), (12L, 10L)) // hand-derived min labels
    def run(every: Int, localLimit: Long): Set[(Long, Long)] = {
      val schema = spark.read.parquet(inDir.resolve("0_pairs.parquet").toString).schema
      val pairs = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(inDir.toString)
      QueriesLlm.runIncrementalResolve(spark, pairs, compactEvery = every,
          localEdgeLimit = localLimit)
        .get.select("node", "label").as[(Long, Long)].collect().toSet
    }
    assert(run(1, 2000000L) == expected, "compactEvery=1 (the gate shape) diverged")
    assert(run(3, 2000000L) == expected, "compactEvery=3 via the local fork diverged")
    assert(run(3, 0L) == expected, "compactEvery=3 via distributed CC diverged")
  }

  test("llm_semdedup_q: planted twins dedup to one survivor (cell-straddlers excepted)") {
    val out = QueriesLlm.queries("llm_semdedup_q")(spark, sf)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3)))).toMap
    val n = out.size / 2
    assert(out.size == 2 * n && n > 0, s"planted corpus size ${out.size}")
    var deduped = 0
    var straddlers = 0
    (0L until n).foreach { id =>
      val (ca, ka) = out(id)
      val (cb, kb) = out(id + 100000L)
      if (ca == cb) {
        assert(ka + kb == 1, s"twin pair $id in one cell must keep exactly one")
        deduped += 1
      } else {
        // a twin that straddles a cell boundary is never paired — the
        // inherent recall property of cell-bucketed semdedup (same as
        // the float gate); both survive, and that's what the oracle
        // replays too
        assert(ka == 1 && kb == 1, s"straddling twin pair $id lost a member")
        straddlers += 1
      }
    }
    assert(deduped >= (n * 95) / 100,
      s"only $deduped/$n twin pairs co-celled — centroids degenerate?")
    // non-twin drops would mean the threshold caught a natural pair —
    // measured 250× separation says that must never happen at gate SF
    val dropped = out.count(_._2._2 == 0L)
    assert(dropped == deduped, s"dropped $dropped != co-celled twins $deduped")
  }

  test("llm_semdedup_hq: the hier branch is TAKEN (hier ≠ flat, output == hier) at both gate SFs") {
    // the 64-cell gate is only worth its FULL oracle if (a) the
    // two-level probe genuinely disagrees with the flat scan somewhere
    // on the gate corpus — otherwise a green hash can't distinguish
    // the branches — and (b) the gate's cell column IS the hier
    // assignment. With both held, the DuckDB replay of oQHierFin is
    // engine-level proof the production assignment path computed its
    // published rule (r17 verdict, What's missing #1).
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val cents = QueriesLlm.semCentroidsHQ(spark, dir)
      assert(cents.length == 64, s"$dir: expected 64 trained cells")
      val flat = Similarity.assignCellQ(cents)
      val hier = Similarity.assignCellHierQ(cents)
      val both = QueriesLlm.plantedEmb(spark, dir)
        .select(col("vec_id"), Similarity.quantizeVec(col("embedding"), 1048576.0).as("_qv"))
        .select(col("vec_id"), flat(col("_qv")).as("f"), hier(col("_qv")).as("h"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      val disagree = both.count(t => t._2 != t._3)
      assert(disagree > 0,
        s"$dir: hier == flat on every row — the hq gate would not exercise the branch")
      // NOT the ≥95% quality gate (that lives in the clustered-fixture
      // hier-agreement spec, where cells mirror real structure): this
      // corpus at 64 cells is deliberately cell-DENSE — near-tied cells
      // make the probe diverge often (~18% measured), which is exactly
      // what makes a green oracle hash distinguish the branches. Bound
      // it loosely so a broken probe (random assignment) still fails.
      assert(disagree.toDouble / both.length <= 0.5,
        s"$dir: hier/flat agreement ${both.length - disagree}/${both.length} below even the sanity bound")
      val hmap = both.map(t => t._1 -> t._3.toLong).toMap
      val out = QueriesLlm.queries("llm_semdedup_hq")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      assert(out.map(t => t._1 -> t._2).toMap == hmap,
        s"$dir: llm_semdedup_hq cells != assignCellHierQ — hier branch not taken")
      assert(out.count(_._3 == 0L) > 0, s"$dir: no losers at 64 cells — gate vacuous")
    }
  }

  test("llm_ann_ivf_hq: hier tagging is TAKEN in the retrieval path at both gate SFs") {
    // same trust argument as llm_semdedup_hq, applied to ANN: the
    // corpus cell-tagging at 64 cells takes the two-level probe, the
    // oracle replays it, and the branches are distinguishable on this
    // corpus — hier ≠ flat tagging on ≥1 vector, and the top-k itself
    // differs from a forced-flat run (so a green hash can't be
    // explained by the flat path).
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val emb = graft.core.Tables(spark, dir, "embeddings")
      val cents = Similarity.ivfCentroidsQ(emb, "vec_id", "embedding", 64,
        nCells = 64, iters = 4, trainMod = 2)
      // the oracle derives its coarse geometry from the nCells PARAM —
      // valid only while the train sample actually seeds all 64 cells
      assert(cents.length == 64, s"$dir: train sample under-seeds the 64 cells")
      val flat = Similarity.assignCellQ(cents)
      val hier = Similarity.assignCellHierQ(cents)
      val both = emb
        .select(col("vec_id"), Similarity.quantizeVec(col("embedding"), 1048576.0).as("_qv"))
        .select(col("vec_id"), flat(col("_qv")).as("f"), hier(col("_qv")).as("h"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      assert(both.count(t => t._2 != t._3) > 0,
        s"$dir: hier == flat tagging on every vector — the hq ANN gate would be vacuous")
      def run(hierFrom: Int): Set[(Long, Long, Long, Int)] = {
        val e = graft.core.Tables(spark, dir, "embeddings")
        Similarity.ivfTopKQ(e, "vec_id", "embedding", 64,
            e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5,
            nCells = 64, nProbe = 4, iters = 4, trainMod = 2,
            hierAssignFrom = hierFrom)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
      }
      val hq = run(64)                 // the gate's path (hier)
      val flatForced = run(Int.MaxValue)
      assert(hq == QueriesLlm.queries("llm_ann_ivf_hq")(spark, dir)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet,
        s"$dir: gate output != hier-tagged ivfTopKQ")
      assert(hq != flatForced,
        s"$dir: hq top-k == forced-flat top-k — tagging difference invisible to the gate")
    }
  }

  test("keepDecisionsQ retention: evicted cell forgets, same-batch priority path intact") {
    // the float retention gate's topology replayed in integers: batch 0
    // seeds cell 0 with v1; two filler batches age it past a 1 ms
    // horizon; batch 3 carries v2 (same vector, cell 0) and v3 (same
    // vector, lower priority, same batch). Evicted: v2 KEPT (history
    // forgotten — the documented recall trade), v3 still dropped
    // against same-batch v2. NoTimeout: both dropped against v1.
    import spark.implicits._
    val e0 = Seq(1048576L, 0L, 0L, 0L)
    def vecFile(rows: Seq[(Long, Int, Long, Seq[Long])]) =
      rows.toDF("id", "cell", "prio", "vec")
    val inDir = Run.writeSplitDir("ssdq_evict", Seq(
      (vecFile(Seq((1L, 0, 100L, e0))), "0_vec.parquet"),
      (vecFile(Seq((100L, 1, 100L, Seq(0L, 1048576L, 0L, 0L)))), "1_vec.parquet"),
      (vecFile(Seq((101L, 2, 100L, Seq(0L, 0L, 1048576L, 0L)))), "2_vec.parquet"),
      (vecFile(Seq((2L, 0, 100L, e0), (3L, 0, 90L, e0))), "3_vec.parquet")))
    def run(evict: Option[Long]): Map[Long, Long] = {
      val ss = spark.newSession()
      import ss.implicits._
      val schema = ss.read.parquet(inDir.resolve("0_vec.parquet").toString).schema
      val rows = ss.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(inDir.toString)
        .toDF("_1", "_2", "_3", "_4").as[(Long, Int, Long, Seq[Long])]
      val sink = s"ssdq_evict_${evict.isDefined}"
      val ckpt = TempDir("ssdq_evict_ckpt").toFile
      val writer = graft.streaming.StreamSemDedup
        .keepDecisionsQ(rows, threshold = 4000000000L, evictCellAfterMs = evict)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").option("checkpointLocation", ckpt.getPath)
      val q =
        if (evict.isDefined) {
          val q0 = writer
            .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(20L)).start()
          Run.drainAndStop(q0)
          q0
        } else {
          val q0 = writer
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
          q0.awaitTermination()
          q0
        }
      val _ = q
      ss.table(sink).collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    }
    assert(run(None) == Map(1L -> 1L, 100L -> 1L, 101L -> 1L, 2L -> 0L, 3L -> 0L),
      "NoTimeout must drop both later twins against v1")
    assert(run(Some(1L)) == Map(1L -> 1L, 100L -> 1L, 101L -> 1L, 2L -> 1L, 3L -> 0L),
      "evicted cell must forget v1 (v2 kept) yet still drop same-batch v3")
  }

  test("stream_semdedup_q equals batch exactly (priority-ordered arrival)") {
    def canon(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = canon(QueriesLlm.queries("llm_semdedup_q")(spark, sf))
    val stream = canon(QueriesLlm.queries("stream_semdedup_q")(spark, sf))
    assert(batch.nonEmpty && batch == stream,
      s"batch ${batch.size} rows vs stream ${stream.size}; " +
        s"diff ${(batch diff stream).take(3)} / ${(stream diff batch).take(3)}")
  }

  test("stream_semdedup_hq equals batch exactly (hier assignment in the stream)") {
    // the production-assignment streaming twin: row-local TWO-LEVEL
    // cell assignment inside the stream, greedy first-seen keep under
    // hq-priority-ordered arrival == llm_semdedup_hq's batch loser
    // rule — which is what lets it share the hq FULL oracle
    def canon(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = canon(QueriesLlm.queries("llm_semdedup_hq")(spark, sf))
    val stream = canon(QueriesLlm.queries("stream_semdedup_hq")(spark, sf))
    assert(batch.nonEmpty && batch == stream,
      s"batch ${batch.size} rows vs stream ${stream.size}; " +
        s"diff ${(batch diff stream).take(3)} / ${(stream diff batch).take(3)}")
  }

  test("llm_ann_ivf_q: exact integer distances, self-hit at rank 1, clustered recall") {
    val out = QueriesLlm.queries("llm_ann_ivf_q")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(out.length == 25, s"5 queries × k=5, got ${out.length}")
    // exact reference computed INDEPENDENTLY: quantized dot over ALL
    // vectors, driver-side scala — no Spark, no cells
    val vecs = Tables(spark, sf, "embeddings").select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1048576.0 + 0.5).toLong).toArray)
      .toMap
    val byQuery = out.groupBy(_._1)
    (0L until 5L).foreach { qid =>
      val qv = vecs(qid)
      def d2(v: Array[Long]): Long =
        v.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum
      // every reported distance must BE the exact integer squared L2
      // (the oracle checks Spark==DuckDB; this checks both vs scala)
      byQuery(qid).foreach { case (_, vid, sc, _) =>
        assert(sc == d2(vecs(vid)), s"query $qid cand $vid dist2 $sc != exact")
      }
      // the query is its own 0-distance rank-1 hit (self lives in the
      // first probed cell by construction)
      assert(byQuery(qid).exists(r => r._2 == qid && r._4 == 1 && r._3 == 0L),
        s"query $qid missing its self-hit at rank 1")
    }
    // recall needs STRUCTURE: uniform random 64-d vectors have almost
    // no cell-locality (measured 2/5 global recall on the raw
    // embeddings at nProbe 4/16 — the float ANN family gates recall on
    // clustered fixtures for the same reason). Clustered fixture: 20
    // bases × 10 tightly-jittered members; a query must retrieve its
    // own cluster.
    val rnd = new scala.util.Random(20260819L)
    val bases = Array.fill(20, 64)(rnd.nextFloat() - 0.5f)
    val rows = (0 until 200).map { id =>
      val c = id % 20
      (id.toLong, bases(c).map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f).toSeq)
    }
    val corpus = rows.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 20) // one per cluster
    val got = Similarity.ivfTopKQ(corpus, "vec_id", "embedding", 64,
        queries, "vec_id", "embedding", k = 5, nCells = 16, nProbe = 4,
        iters = 4, trainMod = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    (0L until 20L).foreach { qid =>
      val sameCluster = got(qid).map(_._2).count(_ % 20 == qid % 20)
      assert(sameCluster >= 4,
        s"query $qid: only $sameCluster/5 retrieved from its own cluster")
    }
  }

  test("hammingBandedPairsAuto == manual; chooseBlocks matches the scale prescription") {
    // chooser unit points: the manual geometry at gate populations, the
    // documented radius-3-block fallback at 1M, saturation at the cap
    assert(Dedup.chooseBlocks(2000, 3, 1000) == 4)
    assert(Dedup.chooseBlocks(2000, 7, 1000) == 8)
    assert(Dedup.chooseBlocks(200000, 7, 1000) == 8) // 200k/2^8 = 781 < cap
    assert(Dedup.chooseBlocks(1000000, 7, 1000) == 4) // the r7-at-1M prescription
    assert(Dedup.chooseBlocks(1000000, 3, 1000) == 4)
    assert(Dedup.chooseBlocks(Long.MaxValue, 3, 1000) == 4) // saturation: cap guards
    intercept[IllegalArgumentException](Dedup.chooseBlocks(100, 32, 1000))
    // plumbing equality on seeded random twins: at the TRUE population
    // auto picks the manual geometry and must emit the identical pair
    // set; with a scale-sized nHint it picks the 4-block fallback and
    // must equal the explicitly-prescribed manual form
    val rnd = new scala.util.Random(20260818L)
    val sigs = (0 until 1500).flatMap { i =>
      val fp = rnd.nextLong()
      val pos = rnd.shuffle((0 until 64).toList).take(rnd.nextInt(8))
      Seq((i.toLong, fp), (100000L + i, pos.foldLeft(fp)((a, p) => a ^ (1L << p))))
    }.toDF("id", "fp")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
    for (r <- Seq(3, 7)) {
      val manual = canon(Dedup.hammingBandedPairs(sigs, "id", "fp", maxHamming = r)
        .withColumn("hamming", col("hamming").cast("int")))
      val auto = canon(Dedup.hammingBandedPairsAuto(sigs, "id", "fp", maxHamming = r)
        .withColumn("hamming", col("hamming").cast("int")))
      assert(auto == manual, s"radius $r: auto != manual at the true population")
    }
    val scaleAuto = canon(Dedup.hammingBandedPairsAuto(sigs, "id", "fp", maxHamming = 7,
        nHint = Some(1000000L)) // chooser sees 1M -> 4 blocks
      .withColumn("hamming", col("hamming").cast("int")))
    val scaleManual = canon(Dedup.hammingBandedPairsWith(
        sigs.select(col("id").as("_id"), col("fp").as("_sim")),
        maxHamming = 7, maxBucketSize = 1000, blocks = 4)
      .withColumn("hamming", col("hamming").cast("int")))
    assert(scaleAuto == scaleManual, "auto at scale-hint != prescribed 4-block manual form")
  }

  test("chooseBlocksMeasured: skew the uniform estimate misses picks the safe geometry") {
    // uniform fixture: measured agrees with the closed-form chooser
    val rnd = new scala.util.Random(20260816L)
    val uni = (0 until 2000).map(i => (i.toLong, rnd.nextLong())).toDF("id", "fp")
      .select(col("id").as("_id"), col("fp").as("_sim"))
    assert(Dedup.chooseBlocksMeasured(uni, 7, 1000) == Dedup.chooseBlocks(2000, 7, 1000))
    assert(Dedup.chooseBlocksMeasured(uni, 3, 1000) == 4)
    // SKEWED fixture (the r17-advice failure mode): byte 0 constant —
    // at 8 blocks every row lands in ONE block-0 bucket (4000 > cap,
    // silently dropped by the cap; drop share 12.5% of occurrences),
    // which the uniform MEAN estimate (4000/2^8 = 15.6 << cap) cannot
    // see. Measured sizing detects it and falls back to 4 blocks
    // (16-bit keys: the constant byte spreads across the partner
    // byte's 256 values, ~16 per bucket — fits).
    val skew = (0 until 4000).map(i => (i.toLong, rnd.nextLong() & ~0xFFL))
      .toDF("id", "fp").select(col("id").as("_id"), col("fp").as("_sim"))
    assert(Dedup.chooseBlocks(4000, 7, 1000) == 8) // uniform estimate: fits
    assert(Dedup.chooseBlocksMeasured(skew, 7, 1000) == 4) // measured: does not
    // plumbing: measured auto == the manual form at the measured geometry
    val skewIdFp = skew.select(col("_id").as("id"), col("_sim").as("fp"))
    def canon2(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
    val mAuto = canon2(Dedup.hammingBandedPairsAuto(skewIdFp, "id", "fp",
        maxHamming = 7, measured = true)
      .withColumn("hamming", col("hamming").cast("int")))
    val mManual = canon2(Dedup.hammingBandedPairsWith(skew,
        maxHamming = 7, maxBucketSize = 1000, blocks = 4)
      .withColumn("hamming", col("hamming").cast("int")))
    assert(mAuto == mManual, "measured auto != manual at the measured geometry")
    // the streaming build-time sibling sizes from the SAME rule on a
    // staged sample: measured pick == batch measured pick on both
    // fixtures (the deploy feeds a sample where batch feeds the corpus)
    assert(graft.streaming.StreamPhash.autoBlocksMeasured(skewIdFp, "id", "fp", 7) == 4)
    val uniIdFp = uni.select(col("_id").as("id"), col("_sim").as("fp"))
    assert(graft.streaming.StreamPhash.autoBlocksMeasured(uniIdFp, "id", "fp", 7) == 8)
    // empty population: drop share is 0 everywhere → the guaranteed
    // geometry, not an NPE on the null aggregate
    assert(Dedup.chooseBlocksMeasured(uni.limit(0), 7, 1000) == 8)
    // nHint × measured COMPOSE (r18 review): extrapolating the uniform
    // sample to a 2M deploy population picks the same fallback the
    // uniform rule prescribes there (on uniform data the two meters
    // must agree), and scaling to the sample's own size is a no-op
    assert(Dedup.chooseBlocksMeasured(uni, 7, 1000, scaleTo = Some(2000000L)) == 4)
    assert(Dedup.chooseBlocksMeasured(uni, 7, 1000, scaleTo = Some(2000L)) == 8)
    assert(graft.streaming.StreamPhash.autoBlocksMeasured(uniIdFp, "id", "fp", 7,
      nHint = Some(2000000L)) == 4)
  }

  test("saturation-safe default: measured sizing keeps FULL planted recall where the uniform pick drops pairs (dhash skew)") {
    // The scaled-down twin of SCALING r18 §3's live receipt (100k
    // images, cap 1000: the uniform pick's hot buckets saturated and
    // lost 6.6% of true pairs): real dHash prints are SKEWED — the
    // same synthetic-BMP + brightness-twin fixture at spec scale with
    // the cap at the same multiple of mean occupancy (~2.6×) so
    // saturation bites identically. The uniform closed form sees mean
    // occupancy under the cap and picks the guaranteed 8 blocks; the
    // MEASURED rule (the r19 DEFAULT — recall loss is a correctness
    // property for a dedup pipeline, not a perf knob) sees the over-cap
    // share and falls back to 4 blocks, which spreads the hot 8-bit
    // keys over 16-bit keys and recovers every planted pair, batch AND
    // streaming.
    val nDocs = 1500L
    val cap = 15 // ~1.3× mean occupancy at 8 blocks: uniform estimate
                 // (11.7 < 15) says "fits", the skewed tail does not —
                 // measured 8-block recall 1417/1500 (5.5% loss, the
                 // r18 §3 shape) vs 1500/1500 at the measured pick
    val off = 100000L
    val mk = udf((k: Long) => Multimodal.syntheticImageBmp(k))
    val mkTwin = udf((k: Long) => Multimodal.syntheticImageBmp(k, brighten = 3))
    val ids = spark.range(nDocs).select(col("id").as("media_id"))
    val media = ids.select(col("media_id"), mk(col("media_id")).as("data"))
      .unionByName(ids.select((col("media_id") + off).as("media_id"),
        mkTwin(col("media_id")).as("data")))
    // decoded once; consumed by chooser + both pair runs
    val prints = Checkpoint.lazily(Multimodal.dhashBmp(media, "media_id", "data"))
    val uniformBlocks = Dedup.chooseBlocks(2L * nDocs, 7, cap)
    val measuredBlocks = Dedup.chooseBlocksMeasured(
      prints.select(col("media_id").as("_id"), col("dhash").as("_sim")), 7, cap)
    assert(uniformBlocks == 8 && measuredBlocks == 4,
      s"fixture no longer splits the seam: uniform=$uniformBlocks measured=$measuredBlocks")
    def twinRecall(df: org.apache.spark.sql.DataFrame): Long =
      df.filter(col("id_b") === col("id_a") + off).count()
    // BATCH: the measured DEFAULT (hammingBandedPairsAuto) keeps every
    // planted twin; the uniform pick's retroactive cap drops some
    val uniBatch = twinRecall(Dedup.hammingBandedPairsWith(
      prints.select(col("media_id").as("_id"), col("dhash").as("_sim")),
      maxHamming = 7, maxBucketSize = cap, blocks = uniformBlocks))
    val defBatch = twinRecall(Dedup.hammingBandedPairsAuto(prints, "media_id", "dhash",
      maxHamming = 7, maxBucketSize = cap))
    assert(defBatch == nDocs, s"measured default lost planted twins: $defBatch/$nDocs")
    assert(uniBatch < nDocs,
      s"uniform pick did not saturate — fixture is dead: $uniBatch/$nDocs")
    // STREAMING (live topology): originals then twins in two
    // micro-batches; the deploy default (sample-staged measured sizing
    // via candidatePairsAuto's `sample`) keeps full recall where the
    // uniform meter pick loses storage-capped pairs
    val inDir = Run.writeSplitDir("satgeo_in", Seq(
      (prints.filter(col("media_id") < off).toDF("id", "fp"), "0_sigs.parquet"),
      (prints.filter(col("media_id") >= off).toDF("id", "fp"), "1_sigs.parquet")))
    def runStream(mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                  tag: String): Long = {
      val ss = spark.newSession()
      val schema = ss.read.parquet(inDir.resolve("0_sigs.parquet").toString).schema
      val sigs = ss.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(inDir.toString)
      val ckpt = TempDir(s"satgeo_$tag").toFile
      val sink = s"satgeo_$tag"
      val q = mk(sigs).writeStream.format("memory").queryName(sink)
        .outputMode("append").option("checkpointLocation", ckpt.getPath)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      ss.table(sink).filter(col("id_b") === col("id_a") + off).count()
    }
    import graft.streaming.StreamPhash
    val uniStream = runStream(s => StreamPhash.candidatePairs(
      StreamPhash.blockOccurrences(s, "id", "fp", uniformBlocks), 7, uniformBlocks,
      maxBucketSize = cap), "uni")
    val defStream = runStream(s => StreamPhash.candidatePairsAuto(
      s, "id", "fp", nHint = 2L * nDocs, maxHamming = 7, maxBucketSize = cap,
      sample = Some(spark.read.parquet(inDir.resolve("0_sigs.parquet").toString)
        .unionByName(spark.read.parquet(inDir.resolve("1_sigs.parquet").toString)))), "def")
    assert(defStream == nDocs, s"streamed measured default lost twins: $defStream/$nDocs")
    assert(uniStream < nDocs,
      s"streamed uniform pick did not saturate — fixture is dead: $uniStream/$nDocs")
  }

  test("streaming auto geometry (ingest-meter nHint) == manual; block width follows population") {
    import graft.streaming.StreamPhash
    // the streaming chooser IS the batch rule, fed by the meter
    assert(StreamPhash.autoBlocks(2000, 7) == Dedup.chooseBlocks(2000, 7, 1000))
    assert(StreamPhash.autoBlocks(1000000L, 7) == 4) // the r7-at-1M fallback
    // plumbing equality in the LIVE topology: seeded twins streamed in
    // two micro-batches; the auto form (nHint) must emit the identical
    // pair set as the explicitly-bladed manual form at the geometry the
    // chooser picks — at the true population (8 blocks) AND at a
    // 100×-deploy hint (4 blocks), so the meter demonstrably changes
    // the streamed geometry, not just a number in a log
    val rnd = new scala.util.Random(20260817L)
    val rows = (0 until 800).flatMap { i =>
      val fp = rnd.nextLong()
      val pos = rnd.shuffle((0 until 64).toList).take(rnd.nextInt(8))
      Seq((i.toLong, fp), (100000L + i, pos.foldLeft(fp)((a, p) => a ^ (1L << p))))
    }
    val inDir = Run.writeSplitDir("sautob_in", Seq(
      (rows.filter(_._1 < 100000L).toDF("id", "fp"), "0_sigs.parquet"),
      (rows.filter(_._1 >= 100000L).toDF("id", "fp"), "1_sigs.parquet")))
    def runStream(mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                  tag: String): Set[(Long, Long, Int)] = {
      val ss = spark.newSession()
      val schema = ss.read.parquet(inDir.resolve("0_sigs.parquet").toString).schema
      val sigs = ss.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(inDir.toString)
      val ckpt = TempDir(s"sautob_$tag").toFile
      val sink = s"sautob_$tag"
      val q = mk(sigs).writeStream.format("memory").queryName(sink)
        .outputMode("append").option("checkpointLocation", ckpt.getPath)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      ss.table(sink).collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    }
    val n = rows.size.toLong
    val picks = Seq((n, "true"), (1000000L, "scale")).map { case (hint, tag) =>
      val blocks = Dedup.chooseBlocks(hint, 7, 1000)
      val auto = runStream(s => StreamPhash.candidatePairsAuto(
        s, "id", "fp", nHint = hint, maxHamming = 7), s"a$tag")
      val manual = runStream(s => StreamPhash.candidatePairs(
        StreamPhash.blockOccurrences(s, "id", "fp", blocks), 7, blocks), s"m$tag")
      assert(auto.nonEmpty && auto == manual,
        s"$tag hint: streaming auto != manual at blocks=$blocks")
      blocks
    }
    assert(picks == Seq(8, 4), s"hints did not change the streamed geometry: $picks")
  }

  test("Checkpoint clamp: small sizes exact, carried stats clamped (the CC cliff guard)") {
    // small frame: the clamp must NOT disturb exact carried stats
    // (broadcast decisions depend on them)
    val small = (0 until 100).map(i => (i.toLong, i.toLong)).toDF("a", "b")
    val smallStats = small.queryExecution.optimizedPlan.stats.sizeInBytes
    val capped = Checkpoint.lazily(small)
    assert(capped.queryExecution.optimizedPlan.stats.sizeInBytes == smallStats,
      "clamp disturbed an in-range carried size")
    // a self-join LOOP over clamped checkpoints must keep sizeInBytes
    // bounded (the unclamped form doubles its bit length per round and
    // dies in Catalyst BigInteger math around round 30 — SCALING r16 §6)
    var df = capped
    (1 to 12).foreach { _ =>
      df = Checkpoint.lazily(
        df.as("x").join(df.as("y"), col("x.a") === col("y.a"))
          .select(col("x.a").as("a"), col("y.b").as("b")))
    }
    val bits = df.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength
    assert(bits <= 63, s"clamped loop stats grew to $bits bits")
  }
}
