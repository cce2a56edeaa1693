package graft.ml

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting. Per-row
  * only, no shuffles. The operators are Column expressions, except for a
  * few fused per-row kernels (`udf`s) where the Column form rebuilds the
  * same intermediate arrays many times per row: [[qualityScore]] and the
  * md5-bucket kernels. Each kernel is spec-pinned (MlSpec) against the
  * Column form it replaces.
  */
object TextAnalysis {

  /** Whitespace token count. Empty/blank text → 0. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish subword count estimate: word-boundary regex split of words,
    * digits, punctuation runs (the GPT-2 pre-tokenizer shape). */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[\\p{L}]+|[\\p{N}]+|[^\\s\\p{L}\\p{N}]+"), lit(0)))

  def charCount(text: Column): Column = length(text)

  /** Ratio helpers (guarded against empty text). */
  private def ratio(num: Column, den: Column): Column =
    when(den === 0, lit(0.0)).otherwise(num.cast(DoubleType) / den.cast(DoubleType))

  // char-class shares count matches directly (regexp_count) instead of
  // materializing a rewritten copy of the document per metric
  // (regexp_replace-then-length) — same count, no throwaway strings
  def punctRatio(text: Column): Column =
    ratio(regexp_count(text, lit("[\\p{Punct}]")), length(text))

  def upperRatio(text: Column): Column =
    ratio(regexp_count(text, lit("[A-Z]")), length(text))

  def digitRatio(text: Column): Column =
    ratio(regexp_count(text, lit("[0-9]")), length(text))

  def meanWordLength(text: Column): Column =
    ratio(length(text) - regexp_count(text, lit("\\s")), tokenCount(text))

  private val enStop = Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for")

  def stopwordRatio(text: Column, stopwords: Seq[String] = enStop): Column = {
    val toks = Dedup.tokens(text)
    ratio(size(filter(toks, t => t.isin(stopwords.map(lit): _*))), size(toks))
  }

  /** Composite quality score in [0,1]: length band + punct sanity +
    * stopword presence + word-length sanity (C4/Gopher-rule flavor), each
    * worth 0.25; null text scores 0.0.
    *
    * One fused per-row kernel. It scores exactly what the sum of the
    * Column rules would: `length(text)` in [50, 20000], [[punctRatio]]
    * < 0.2, [[stopwordRatio]] > 0.05 and [[meanWordLength]] in [2, 12].
    * That Column form costs three `regexp_extract_all` scans (`between`
    * evaluates [[meanWordLength]] twice), seven regex `split`s of
    * `trim(text)`/`lower(text)` and an interpreted `filter` lambda per
    * document; the kernel makes two character passes over the text and
    * one over `lower(text)`, and builds no arrays. The four Column rules
    * stay public: `llm_quality` projects them, and the MlSpec differential
    * pins this kernel to their sum. */
  def qualityScore(text: Column): Column = {
    // the session's setting, which the Column form's `lower` also follows
    val icuLower = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)
    udf((s: String) => if (s == null) 0.0 else qualityOf(s, icuLower)).apply(text)
  }

  // The character classes of the Column rules' regexes (java.util.regex
  // without UNICODE_CHARACTER_CLASS): `\p{Punct}` is ASCII punctuation,
  // `\s` is [ \t\n\x0B\f\r], and `\p{L}`/`\p{N}` are Unicode general
  // categories, tested per code point.
  private val punct: Array[Boolean] = {
    val t = new Array[Boolean](128)
    "!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~".foreach(c => t(c) = true)
    t
  }
  private def isSpace(c: Char): Boolean = c == ' ' || (c >= '\t' && c <= '\r')
  private val wordCategories = Seq(Character.UPPERCASE_LETTER, Character.LOWERCASE_LETTER,
    Character.TITLECASE_LETTER, Character.MODIFIER_LETTER, Character.OTHER_LETTER,
    Character.DECIMAL_DIGIT_NUMBER, Character.LETTER_NUMBER, Character.OTHER_NUMBER)
    .map(1 << _).reduce(_ | _)
  private val enStopWords = enStop.toArray

  private def isStopword(s: String, at: Int, len: Int): Boolean = {
    var j = 0
    while (j < enStopWords.length) {
      val w = enStopWords(j)
      if (w.length == len && s.regionMatches(at, w, 0, len)) return true
      j += 1
    }
    false
  }

  private def band(ok: Boolean): Double = if (ok) 0.25 else 0.0

  private def ratioOf(num: Int, den: Int): Double =
    if (den == 0) 0.0 else num.toDouble / den.toDouble

  private def qualityOf(s: String, icuLower: Boolean): Double = {
    val n = s.length
    // `length` counts characters (code points), not UTF-16 units
    val len = s.codePointCount(0, n)
    var puncts = 0
    var spaces = 0
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c < 128 && punct(c)) puncts += 1
      else if (isSpace(c)) spaces += 1
      i += 1
    }
    // `split(trim(text), "\\s+")` has one piece more than the whitespace
    // runs inside `trim(text)`, and `trim` strips only ASCII spaces
    var from = 0
    while (from < n && s.charAt(from) == ' ') from += 1
    var to = n
    while (to > from && s.charAt(to - 1) == ' ') to -= 1
    var runs = 0
    i = from
    while (i < to) {
      if (isSpace(s.charAt(i)) && (i == from || !isSpace(s.charAt(i - 1)))) runs += 1
      i += 1
    }
    val meanLen = ratioOf(len - spaces, if (from == to) 0 else runs + 1)
    // word tokens ([[Dedup.tokens]]): the \p{L}\p{N} runs of Spark's own
    // UTF8_BINARY `lower`, so a lowering that splits a letter (`İ` → `i`
    // + U+0307) splits the token the same way
    val lw = CollationSupport.Lower.exec(UTF8String.fromString(s),
      CollationFactory.UTF8_BINARY_COLLATION_ID, icuLower).toString
    val m = lw.length
    var words = 0
    var stops = 0
    var start = -1
    i = 0
    while (i <= m) {
      // a space past the end closes the last token
      val cp = if (i < m) lw.codePointAt(i) else ' '
      if (((1 << Character.getType(cp)) & wordCategories) != 0) {
        if (start < 0) start = i
      } else if (start >= 0) {
        words += 1
        if (isStopword(lw, start, i - start)) stops += 1
        start = -1
      }
      i += Character.charCount(cp)
    }
    band(len >= 50 && len <= 20000) + band(ratioOf(puncts, len) < 0.2) +
      band(ratioOf(stops, words) > 0.05) + band(meanLen >= 2.0 && meanLen <= 12.0)
  }

  // ---- language ID: stopword-profile heuristic over 5 languages -----------
  // private[graft]: the llm_langid DuckDB oracle builds its IN-lists
  // from THIS value, so profile edits cannot drift from the replay
  private[graft] val profiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "you", "that", "it", "for", "was", "with"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "por", "con", "los", "una", "para"),
    // "im"/"wir"/"haben" are unambiguous German markers ("in" alone ties
    // de sentences into the en profile — r10 confusion-matrix finding)
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "den",
      "von", "zu", "im", "wir", "haben", "meine", "einer"),
    // "de"/"que"/"la" are top-frequency in BOTH es and fr: present in both
    // profiles they cancel out, leaving unique markers to break ties
    "fr" -> Seq("le", "la", "les", "et", "des", "est", "dans", "que", "une", "pour", "qui", "sur", "de", "je"))

  /** Predict language: CJK-char share for zh, else best stopword-profile
    * hit rate; "und" when nothing matches. Pure Column expression. */
  def langId(text: Column): Column = {
    val cjk = ratio(regexp_count(text, lit("[\\p{IsHan}]")), length(text))
    val toks = Dedup.tokens(text)
    val scores = profiles.toSeq.map { case (lang, words) =>
      lang -> ratio(size(filter(toks, t => t.isin(words.map(lit): _*))), size(toks))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    val pick = scores.foldRight(lit("und")) { case ((lang, s), acc) =>
      when(s === best && s > 0.02, lit(lang)).otherwise(acc)
    }
    when(cjk > 0.2, lit("zh")).otherwise(pick)
  }

  /** Document fingerprint (OpenRefine-style): xxhash64 of the sorted
    * distinct token set — stable under reordering/duplication. */
  def fingerprint(text: Column): Column =
    xxhash64(array_join(array_sort(array_distinct(Dedup.tokens(text))), " "))

  /** Rolling-hash content fingerprint over word 4-grams: min-of-hashes
    * (winnowing flavor) — robust to local edits. */
  def winnowFingerprint(text: Column, n: Int = 4): Column =
    array_min(transform(Dedup.shingles(text, n), s => xxhash64(s)))

  // ===== training-data pipeline extensions (beyond the reference) ==========

  /** PII scrub: mask emails, IPv4 addresses, and long digit runs with
    * typed placeholders. Pure `regexp_replace` chain — codegen'd, no
    * UDF; patterns are RE2-safe (no backrefs/lookaround) so external
    * validators can replay them. Order matters: emails first (an email
    * may embed digits), then IPs, then loose digit runs. */
  def piiScrub(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val ip = regexp_replace(email,
      "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>")
    regexp_replace(ip, "\\b\\d{9,}\\b", "<NUM>")
  }

  /** Repetition score (Gopher-style quality signal): fraction of word
    * n-grams that are duplicates of an earlier n-gram in the same
    * document — high values flag boilerplate/spam. 0.0 for docs shorter
    * than n words. */
  def repetitionScore(text: Column, n: Int = 3): Column = {
    val grams = Dedup.shingles(text, n)
    when(size(grams) <= 0, lit(0.0)).otherwise(
      lit(1.0) - size(array_distinct(grams)).cast("double") / size(grams))
  }

  /** Paragraph-level exact dedup (the standard intra-corpus boilerplate
    * killer: repeated headers/footers/nav-chrome dedup at paragraph
    * granularity). Explode docs into (doc, paragraph-index, paragraph),
    * keep one deterministic winner per paragraph digest.
    *
    * Scale plan: the explode is map-side; the only shuffle keys on the
    * paragraph digest (not the text — same 100 TB discipline as
    * [[Dedup.exact]]), and the winner per digest comes from groupBy +
    * min(struct), not a row_number window — a shared boilerplate
    * paragraph (this operator's whole prey) is a hot digest, and partial
    * aggregation absorbs it map-side where a window would funnel every
    * copy into one task. Returns (idCol, para_idx, para) of survivors;
    * re-assembling cleaned documents is a groupBy(idCol) sort_by(para_idx)
    * away. */
  def paragraphDedup(df: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String, sep: String = "\n\n"): org.apache.spark.sql.DataFrame = {
    val paras = df.select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("para_idx", "para")))
      .filter(length(trim(col("para"))) > 0)
    paras.groupBy(sha2(col("para").cast(BinaryType), 256).as("_pd"))
      .agg(min(struct(col(idCol), col("para_idx"), col("para"))).as("_w"))
      .select(col("_w").getField(idCol).as(idCol),
        col("_w.para_idx").as("para_idx"), col("_w.para").as("para"))
  }

  /** Deterministic stratified sampler — the data-MIXING step of a
    * training pipeline: keep each row with a per-stratum rate (e.g.
    * "web 10%, books 100%, code 50%"). The coin is a hash of the row key
    * (+ salt), NOT rand(): the sample is reproducible across runs,
    * retries, and engines — at 100 TB a non-deterministic sample breaks
    * resumability and any train/eval split audit. Pure Column filter:
    * no shuffle, fully pushed into the scan stage.
    *
    * Coin: first 8 hex chars of md5(key ‖ salt) as a uniform 32-bit
    * value (md5, not xxhash64, so external SQL engines can replay the
    * exact sample). */
  def sampleCoin(key: Column, salt: String): Column =
    conv(substring(md5(concat(key.cast(StringType), lit(salt))), 1, 8), 16, 10)
      .cast(LongType)

  /** The md5 60-BIT convention at fingerprint width (sampleCoin's
    * rationale, 15 hex chars): a uniform nonnegative Long that external
    * SQL engines replay as ('0x' || substr(md5(x), 1, 15))::BIGINT.
    * Single-sourced so the Spark fingerprint sites (band fixture,
    * md5-keyed minhash/simhash) and the oracle SQL cannot
    * desynchronize (review finding r16). */
  def md5Long60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  def stratifiedSample(df: org.apache.spark.sql.DataFrame, keyCol: String,
                       stratumCol: String, rates: Map[String, Double],
                       defaultRate: Double = 0.0, salt: String = "graft")
      : org.apache.spark.sql.DataFrame = {
    val coin = sampleCoin(col(keyCol), salt)
    val threshold = rates.foldLeft(lit(defaultRate)) { case (acc, (stratum, rate)) =>
      when(col(stratumCol) === stratum, lit(rate)).otherwise(acc)
    }
    // keep iff coin < rate * 2^32
    df.filter(coin < (threshold * lit(4294967296.0)).cast(LongType))
  }

  /** Token-budget sequence packing — the step that turns a filtered
    * corpus into fixed-budget training sequences. Docs are bucketed into
    * `shards` by key hash, ordered deterministically within the shard,
    * and assigned pack ids by cumulative-token bucketing
    * (`floor(running_tokens / budget)`).
    *
    * Scale plan: ONE shuffle on the shard key; the window sort runs
    * per-shard, never globally — a global orderBy would funnel 100 TB
    * through one task. Shard count trades pack-boundary waste against
    * parallelism (each shard's last pack may be short). Deterministic
    * when keys are unique (the window orders by the key): same corpus →
    * same packs, per the sampling/dedup discipline.
    *
    * The default shard is `pmod(xxhash64(key), shards)` — works for any
    * key type and spreads skewed numeric ranges; pass `shardBy` to
    * override (e.g. a modulus an external system must reproduce). */
  def packSequences(df: org.apache.spark.sql.DataFrame, keyCol: String,
                    tokensCol: String, budget: Long, shards: Int = 32,
                    shardBy: Option[Column] = None)
      : org.apache.spark.sql.DataFrame = {
    val shard = shardBy.getOrElse(pmod(xxhash64(col(keyCol)), lit(shards.toLong)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(shard).orderBy(col(keyCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    df.withColumn("shard", shard.cast(LongType))
      .withColumn("_cum", sum(col(tokensCol)).over(w))
      .withColumn("pack_id",
        floor((col("_cum") - col(tokensCol)).cast(DoubleType) / budget).cast(LongType))
      .drop("_cum")
  }

  /** Unigram log-probability quality signal (CCNet-flavor perplexity
    * proxy): mean log₁₀ P(token) under the corpus's own unigram model.
    * Low (very negative) scores flag gibberish/rare-token soup; high
    * scores flag natural, common-word text.
    *
    * Two-pass scale plan: pass 1 aggregates token frequencies (map-side
    * explode → partial-agg shuffle on token — the classic word-count);
    * pass 2 joins tokens back to the frequency table. At 100 TB the
    * vocabulary table is millions of rows (Zipf), far smaller than the
    * corpus — AQE picks broadcast when it fits, shuffle-join otherwise;
    * we deliberately do NOT force broadcast. */
  def unigramLogProb(df: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String): org.apache.spark.sql.DataFrame = {
    val toks = df.select(col(idCol), explode(Dedup.tokens(col(textCol))).as("tok"))
    // checkpoint the vocabulary-sized aggregate (r19): unpinned, the
    // tokenize+explode pass re-ran for the scalar-total action AND the
    // join build — three full passes counting the probe side. Same fix
    // as dsirLogRatio; the occurrence stream itself stays recomputed
    // (string tokens: materializing it costs more than re-tokenizing).
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("tf"))
      .localCheckpoint(false)
    val total = vocab.agg(sum("tf")).first().getLong(0)
    toks.join(vocab, "tok")
      .groupBy(idCol)
      .agg(avg(log10(col("tf").cast(DoubleType) / total.toDouble)).as("avg_logprob"),
        count(lit(1)).cast(LongType).as("n_tokens"))
  }

  /** DSIR-flavor importance weight ("Data Selection for Language Models
    * via Importance Resampling", Xie et al. 2023, arXiv:2302.03169 —
    * unigram feature space): per-document mean log₁₀ ratio of a TARGET
    * domain unigram model to the corpus unigram model. Docs whose tokens
    * look like the target (high ratio) are up-weighted for selection;
    * the published method resamples ∝ exp(weight) — rank/threshold on
    * the returned log-ratio to select deterministically. Target model is
    * add-one smoothed over the corpus vocabulary (target samples are
    * small; an unsmoothed OOV token would send the ratio to -∞).
    *
    * Scale plan: two word-count aggregates (map-side partial agg; the
    * target one is tiny) + one vocabulary join back to the corpus token
    * stream — the unigramLogProb shape with a second, left-joined
    * frequency table. Neither vocab join is forced to broadcast (Zipf:
    * vocab ≪ corpus but can be GBs at web scale); AQE decides. The two
    * scalar totals are one-row aggregates, not data collects. */
  def dsirLogRatio(corpus: org.apache.spark.sql.DataFrame,
                   target: org.apache.spark.sql.DataFrame,
                   idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val corpusToks = corpus.select(col(idCol), explode(Dedup.tokens(col(textCol))).as("tok"))
    // checkpoint the aggregated term tables: corpusTf feeds the scalar
    // totals action AND the join build — unpinned, each re-explodes the
    // corpus (the dominant CPU) from the scan. corpusTf is vocabulary-
    // sized (Zipf-bounded, far smaller than the token stream); pinning
    // it trades that for one materialization. Same fix as the hashed
    // variant, where the table is bucket-bounded outright.
    val corpusTf = corpusToks.groupBy("tok").agg(count(lit(1)).as("_cf"))
      .localCheckpoint(false)
    val targetTf = target.select(explode(Dedup.tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("_tft"))
      .localCheckpoint(false)
    val Array(cTot, v) = corpusTf.agg(sum("_cf"), count(lit(1))).first() match {
      case r => Array(r.getLong(0), r.getLong(1))
    }
    val tTot = targetTf.agg(coalesce(sum("_tft"), lit(0L))).first().getLong(0)
    corpusToks.join(corpusTf, "tok")
      .join(targetTf, Seq("tok"), "left_outer")
      .withColumn("_lr",
        log10((coalesce(col("_tft"), lit(0L)).cast(DoubleType) + 1.0) / (tTot + v).toDouble) -
          log10(col("_cf").cast(DoubleType) / cTot.toDouble))
      .groupBy(idCol)
      .agg(avg("_lr").as("dsir_logratio"), count(lit(1)).cast(LongType).as("n_tokens"))
  }

  /** Hashed-feature DSIR — the published method's actual feature space
    * (Xie et al. 2023, arXiv:2302.03169 §2: unigrams AND bigrams hashed
    * into a fixed bucket count) and the 100 TB join shape the unigram
    * variant lacks: both frequency tables are BOUNDED at `buckets` rows
    * by construction, so the per-occurrence join is a broadcast hash
    * join — the raw-token join of [[dsirLogRatio]] probes a
    * vocabulary-sized (Zipf, heavy-tailed, stopword-hot) table instead,
    * which at web scale is a skewed shuffle join (AQE-splittable, but
    * the hot rows are the least informative tokens). Hashing also caps
    * the model size independent of corpus vocabulary growth.
    *
    * The bucket hash is md5-based (first 8 hex chars, like
    * [[sampleCoin]]) rather than xxhash64 so external engines can
    * replay the exact bucketing. Smoothing: add-one over the `buckets`
    * space (the hashed analog of dsirLogRatio's vocab smoothing).
    *
    * @return (idCol, dsir_logratio, n_feats) — mean log₁₀ target/corpus
    *         bucket-probability ratio over the doc's feature occurrences
    */
  def dsirLogRatioHashed(corpus: org.apache.spark.sql.DataFrame,
                         target: org.apache.spark.sql.DataFrame,
                         idCol: String, textCol: String,
                         buckets: Int = 10000): org.apache.spark.sql.DataFrame = {
    // ONE explode+md5 occurrence pass (r19): the (id, bucket) table is
    // checkpointed so the frequency-table build AND the scoring probe read
    // the same materialized rows — previously the operator's dominant CPU
    // (feature explode + md5 bucketing over every occurrence) ran twice,
    // once under the count aggregate and again on the probe side. The
    // materialization is 16 bytes/occurrence, the standard space-for-pass
    // trade (at 100 TB: ~token-count × 16 B of local blocks vs a second
    // full tokenize+hash pass over the corpus text).
    // r20: the per-occurrence kernel is the fused [[dsirFeatBuckets]] UDF
    // (one MessageDigest pass per doc) instead of interpreted string
    // shingles + a per-occurrence md5/substring/conv chain — same bucket
    // values by construction, spec-pinned against the Column reference.
    val corpusB = corpus.select(col(idCol),
        explode(dsirFeatBuckets(buckets)(Dedup.tokens(col(textCol)))).as("_b"))
      .localCheckpoint(false)
    val targetB = target.select(
      explode(dsirFeatBuckets(buckets)(Dedup.tokens(col(textCol)))).as("_b"))
    // bounded at `buckets` rows by construction → broadcast is safe at
    // ANY corpus scale (unlike a vocabulary table, which grows with data).
    // localCheckpoint the TINY aggregated tables too: the scalar-total
    // action and the broadcast build must not re-run their aggregation
    val corpusBf = corpusB.groupBy("_b").agg(count(lit(1)).as("_cf"))
      .localCheckpoint(false)
    val targetBf = targetB.groupBy("_b").agg(count(lit(1)).as("_tft"))
      .localCheckpoint(false)
    val cTot = corpusBf.agg(sum("_cf")).first().getLong(0)
    val tTot = targetBf.agg(coalesce(sum("_tft"), lit(0L))).first().getLong(0)
    corpusB.join(broadcast(corpusBf), "_b")
      .join(broadcast(targetBf), Seq("_b"), "left_outer")
      .withColumn("_lr",
        log10((coalesce(col("_tft"), lit(0L)).cast(DoubleType) + 1.0) /
            (tTot + buckets).toDouble) -
          log10(col("_cf").cast(DoubleType) / cTot.toDouble))
      .groupBy(idCol)
      .agg(avg("_lr").as("dsir_logratio"), count(lit(1)).cast(LongType).as("n_feats"))
  }

  /** Hashed interpolated bigram language-model score — the
    * perplexity-flavor quality filter real pipelines run (CCNet trains a
    * KenLM and buckets documents by perplexity; this is the in-corpus,
    * external-model-free analog): per document, the mean log₁₀ of an
    * interpolated bigram probability
    * `λ·P(w₂|w₁) + (1−λ)·P(w₂)`, both estimated from the corpus itself
    * with add-one smoothing over `buckets` hashed slots. Gibberish and
    * boilerplate-free word salad score low (their bigrams are rare in
    * the corpus); templated/repeated text scores high — the
    * quality-band complement to the heuristic qualityScore.
    *
    * Scale plan = [[dsirLogRatioHashed]]'s: every count table is BOUNDED
    * at `buckets` rows by construction (unigram and bigram models both),
    * localCheckpoint'ed so the corpus explode runs once per model, and
    * broadcast into the per-occurrence joins — the occurrence stream
    * never shuffles on a token key; the only exchange is the final
    * per-doc mean. md5 bucketing keeps it DuckDB-replayable → full
    * oracle. Docs with < 2 tokens have no bigrams and no row.
    *
    * @return (idCol, lm_score, n_bigrams) */
  def lmScoreHashed(corpus: org.apache.spark.sql.DataFrame,
                    idCol: String, textCol: String,
                    buckets: Int = 10000, lambda: Double = 0.7)
      : org.apache.spark.sql.DataFrame = {
    // Train-and-score-on-the-same-corpus shares ONE bigram occurrence
    // pass (r19): lmBigramBuckets (explode + 3×md5 bucketing, the
    // operator's dominant CPU) is checkpointed and feeds BOTH the bigram
    // count table and the scoring probe — previously the explode+hash ran
    // once for training and again for scoring. Counts come from the same
    // rule over the same rows, so the output is bit-identical; the
    // streaming twin (frozen model, new docs) keeps the split
    // lmModelHashed/lmScoreWith path. Materialization is 4 longs +
    // id/occurrence — the dsirLogRatioHashed space-for-pass trade.
    val occ = lmBigramBuckets(corpus, idCol, textCol, buckets)
      .localCheckpoint(false)
    val (uniBf, uTot) = lmUnigramTable(corpus, textCol, buckets)
    val biBf = occ.groupBy(col("_bb").as("_b")).agg(count(lit(1)).as("_bc"))
      .localCheckpoint(false)
    lmScoreOcc(LmModel(uniBf, biBf, uTot, buckets), occ, idCol, lambda)
  }

  /** The smoothed-unigram count table + total — the model rule lives in
    * ONE place shared by [[lmScoreHashed]] and [[lmModelHashed]] (the
    * bigram table is the only piece that genuinely differs between them:
    * train-and-score reuses its checkpointed occurrence pass, the frozen
    * model aggregates straight off the corpus). */
  private def lmUnigramTable(corpus: org.apache.spark.sql.DataFrame,
                             textCol: String, buckets: Int)
      : (org.apache.spark.sql.DataFrame, Long) = {
    val uniBf = corpus
      .select(explode(tokenBuckets(buckets)(Dedup.tokens(col(textCol)))).as("_b"))
      .groupBy("_b").agg(count(lit(1)).as("_uc"))
      .localCheckpoint(false)
    (uniBf, uniBf.agg(sum("_uc")).first().getLong(0))
  }

  /** The trained hashed-bucket LM: two bounded, checkpointed count
    * tables + the unigram total. Built ONCE, scorable many times — the
    * split lets the streaming twin score micro-batches against a model
    * trained on the static corpus with the SAME column code (no
    * reimplemented hash to drift). */
  case class LmModel(uniBf: org.apache.spark.sql.DataFrame,
                     biBf: org.apache.spark.sql.DataFrame,
                     uTot: Long, buckets: Int)

  /** md5 bucket of one feature string — the EXACT arithmetic of the
    * Column rule the fused kernels replaced (`lmBucketOf` in MlSpec: pmod
    * of the first 4 md5 bytes over the UTF-8 text):
    * `conv(substring(md5hex, 1, 8), 16, 10)` is the first 32 md5 bits as
    * an unsigned int, always in [0, 2^32), so `% buckets` == pmod. One
    * MessageDigest call replaces the md5 + substring + conv + two-cast
    * column chain per occurrence. */
  private def md5Bucket(md: java.security.MessageDigest, s: String,
                        buckets: Int): Long = {
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    v % buckets
  }

  /** Fused DSIR feature-bucket kernel (r20): tokens → md5 buckets of the
    * unigrams AND bigram shingles in one JVM pass per doc. Replaces
    * `explode(concat(tokens, shingles(2)))` + the per-occurrence md5
    * column chain: the string-shingle transform is a CodegenFallback
    * HigherOrderFunction building a throwaway string per bigram, and the
    * bucket chain re-parsed hex per occurrence. Bucket values and the
    * occurrence MULTISET are identical by construction — including the
    * short-doc shingle rule (< 2 tokens → ONE shingle, the space-joined
    * token list, so an empty doc still emits bucket(md5(""))); pinned
    * against the Column form in MlSpec. */
  private[graft] def dsirFeatBuckets(buckets: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((toks: Seq[String]) => {
      if (toks == null) null
      else {
        val md = java.security.MessageDigest.getInstance("MD5")
        val n = toks.length
        val out = new Array[Long](if (n < 2) n + 1 else n + (n - 1))
        var i = 0
        while (i < n) { out(i) = md5Bucket(md, toks(i), buckets); i += 1 }
        if (n < 2) out(n) = md5Bucket(md, toks.mkString(" "), buckets)
        else {
          var j = 0
          while (j < n - 1) {
            out(n + j) = md5Bucket(md, toks(j) + " " + toks(j + 1), buckets)
            j += 1
          }
        }
        out
      }
    })

  /** Fused unigram-bucket kernel: tokens → md5 buckets, one digest pass
    * per doc (the [[dsirFeatBuckets]] trick for the LM's unigram table). */
  private[graft] def tokenBuckets(buckets: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((toks: Seq[String]) => {
      if (toks == null) null
      else {
        val md = java.security.MessageDigest.getInstance("MD5")
        toks.map(t => md5Bucket(md, t, buckets))
      }
    })

  /** Fused bigram-triple kernel for [[lmBigramBuckets]]: per doc, ONE
    * digest pass emitting (_bb, _b1, _b2) per adjacent-token bigram.
    * The column form hashed every token up to twice (as `_b1` of one
    * bigram and `_b2` of the next, each re-split out of the bigram
    * STRING with substring_index) and built every bigram string inside
    * an interpreted transform; here token buckets are computed once and
    * reused. Values identical (tokens cannot contain the separator — the
    * tokenizer splits on non-alphanumerics); pinned in MlSpec. */
  private[graft] def lmBigramTriples(buckets: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((toks: Seq[String]) => {
      if (toks == null || toks.length < 2) null
      else {
        val md = java.security.MessageDigest.getInstance("MD5")
        val n = toks.length
        val tb = new Array[Long](n)
        var i = 0
        while (i < n) { tb(i) = md5Bucket(md, toks(i), buckets); i += 1 }
        val out = new Array[(Long, Long, Long)](n - 1)
        var j = 0
        while (j < n - 1) {
          out(j) = (md5Bucket(md, toks(j) + " " + toks(j + 1), buckets), tb(j), tb(j + 1))
          j += 1
        }
        out
      }
    })

  /** (idCol, _bb, _b1, _b2) bigram-occurrence buckets; ≥2-token docs only
    * (shingles' short-doc special case would make substring_index split
    * mid-text). Shared by training and scoring so the rule cannot drift. */
  private[graft] def lmBigramBuckets(df: org.apache.spark.sql.DataFrame,
                                     idCol: String, textCol: String, buckets: Int)
      : org.apache.spark.sql.DataFrame =
    df.filter(size(Dedup.tokens(col(textCol))) >= 2)
      .select(col(idCol),
        explode(lmBigramTriples(buckets)(Dedup.tokens(col(textCol)))).as("_t"))
      .select(col(idCol), col("_t._1").as("_bb"), col("_t._2").as("_b1"),
        col("_t._3").as("_b2"))

  def lmModelHashed(corpus: org.apache.spark.sql.DataFrame, textCol: String,
                    buckets: Int = 10000): LmModel = {
    val (uniBf, uTot) = lmUnigramTable(corpus, textCol, buckets)
    val biBf = lmBigramBuckets(corpus, corpus.columns.head, textCol, buckets)
      .groupBy(col("_bb").as("_b")).agg(count(lit(1)).as("_bc"))
      .localCheckpoint(false)
    LmModel(uniBf, biBf, uTot, buckets)
  }

  def lmScoreWith(m: LmModel, df: org.apache.spark.sql.DataFrame,
                  idCol: String, textCol: String, lambda: Double = 0.7)
      : org.apache.spark.sql.DataFrame =
    lmScoreOcc(m, lmBigramBuckets(df, idCol, textCol, m.buckets), idCol, lambda)

  /** Score a pre-built (idCol, _bb, _b1, _b2) occurrence table against a
    * frozen model — split from [[lmScoreWith]] so lmScoreHashed can feed
    * the SAME checkpointed occurrence pass to training and scoring. */
  private def lmScoreOcc(m: LmModel, occ: org.apache.spark.sql.DataFrame,
                         idCol: String, lambda: Double)
      : org.apache.spark.sql.DataFrame = {
    val u1 = m.uniBf.select(col("_b").as("_b1"), col("_uc").as("_uc1"))
    val u2 = m.uniBf.select(col("_b").as("_b2"), col("_uc").as("_uc2"))
    // LEFT joins: a bucket the frozen model never saw must get the
    // add-one-smoothed probability (count 0), not silently drop the
    // occurrence — the +1 exists precisely for unseen events, and in the
    // deployment topology (model frozen on the static corpus, NEW docs
    // streaming past it) unseen buckets are routine. With inner joins a
    // doc whose bigrams were all unseen vanished from the output.
    occ
      .join(broadcast(m.biBf.withColumnRenamed("_b", "_bb")), Seq("_bb"), "left_outer")
      .join(broadcast(u1), Seq("_b1"), "left_outer")
      .join(broadcast(u2), Seq("_b2"), "left_outer")
      .withColumn("_p",
        log10(lit(lambda) * ((coalesce(col("_bc"), lit(0L)) + 1.0) /
            (coalesce(col("_uc1"), lit(0L)) + m.buckets.toDouble)) +
          lit(1.0 - lambda) * ((coalesce(col("_uc2"), lit(0L)) + 1.0) /
            (m.uTot + m.buckets).toDouble)))
      .groupBy(idCol)
      .agg(avg("_p").as("lm_score"), count(lit(1)).cast(LongType).as("n_bigrams"))
  }

  /** BM25 relevance of each document to a fixed query-term set
    * (Robertson–Spärck Jones probabilistic ranking; the Lucene-flavored
    * non-negative idf `ln(1 + (N − df + ½)/(df + ½))`). The training-data
    * use: topical filtering/weighting of a corpus against seed keywords.
    *
    * Scale plan: one corpus scan builds (doc, dl, token); the query-term
    * `isin` filter runs BEFORE the tf shuffle so only matching tokens
    * move; df-per-term and the (N, avgdl) row are tiny aggregates joined
    * back by explicit broadcast. Nothing is quadratic, nothing collects.
    */
  def bm25(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
           terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    val dl = df.select(col(idCol).as("doc_id"), Dedup.tokens(col(textCol)).as("_t"))
      .select(col("doc_id"), size(col("_t")).cast(DoubleType).as("_dl"), col("_t"))
    val stats = dl.agg(count(lit(1)).cast(DoubleType).as("_n"), avg("_dl").as("_avgdl"))
    val tf = dl.select(col("doc_id"), col("_dl"), explode(col("_t")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("_dl"), col("term"))
      .agg(count(lit(1)).cast(DoubleType).as("_tf"))
    val dfreq = tf.groupBy("term")
      .agg(countDistinct("doc_id").cast(DoubleType).as("_df"))
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("_idf", log(lit(1.0) + (col("_n") - col("_df") + 0.5) / (col("_df") + 0.5)))
      .withColumn("_s", col("_idf") * col("_tf") * lit(k1 + 1) /
        (col("_tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("_dl") / col("_avgdl"))))
      .groupBy("doc_id").agg(sum("_s").as("score"))
  }
}
