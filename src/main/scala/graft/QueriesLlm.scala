package graft

import graft.core.{Tables, TempDir}
import graft.functions.Blob
import graft.ml.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.streaming.Run
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Checkpoint
import org.apache.spark.sql.types._

/** LLM-training-data pipeline operators (north star; BASELINE.json):
  * dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding),
  * similarity search (brute-force + LSH ANN), text analysis, multimodal.
  */
object QueriesLlm {
  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, name: String) = Tables(s, dir, name)

  /** documents ∪ mutated copies (id+100000, ~20% tail cut) — planted
    * near-duplicates so near-dup operators have known positives.
    *
    * Deliberately NOT pre-repartitioned: consumers whose first heavy stage
    * is per-row work ahead of a materialization (minhash's signature UDF)
    * add their own fanout; consumers whose first stage is already an
    * exchange (simhash's pigeonhole blocking, exact-dedup's digest window)
    * must not pay a second shuffle in front of it (r9 bench: the shared
    * repartition cost llm_simhash_pairs +60%). */
  def plantedCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select("doc_id", "text")
    val off = twinOffset(s, dir)
    val mutated = docs
      .select((col("doc_id") + off).as("doc_id"),
        substring_index(col("text"), " ", 40).as("text"))
    docs.unionByName(mutated)
  }

  /** Twin-id offset for plantedCorpus/docsSplitDir, derived from the
    * ACTUAL max doc_id once per dir rather than assumed: the documented
    * +100000 convention holds for every gate dir (oracles hardcode it),
    * but a larger corpus (ScaleGen probe dirs at ≥20×) would collide
    * twins with originals — there the offset grows past the real max so
    * the planted structure stays collision-free. */
  private[graft] def twinOffset(s: SparkSession, dir: String): Long =
    twinOffsets.computeIfAbsent(dir, { _ =>
      val mx = t(s, dir, "documents").agg(max("doc_id")).head().getLong(0)
      math.max(100000L, mx + 1)
    })

  private val twinOffsets =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  private val docsSplitCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  private val documentsSplitCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** Frozen-LM cache for stream_lm_score: collected bounded count
    * tables (≤`buckets` rows each) + the unigram total, per dir. */
  private val lmModelCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Array[(Long, Long)], Array[(Long, Long)], Long)]()

  /** The planted embedding corpus (embeddings ∪ perturbed twins,
    * vec_id+100000, first component nudged) — ONE construction shared by
    * llm_embed_pairs / llm_semdedup / stream_semdedup so the planted
    * structure (and the k-means centroids trained on it) cannot drift
    * between the batch and streaming gates. */
  private[graft] def plantedEmb(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      .repartition(Tables.fanout(s)) // one-file input: distribute the per-row vector math
    val perturbed = emb.select((col("vec_id") + 100000L).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        when(i === 0, x * 1.05f + 0.01f).otherwise(x)).as("embedding"))
    emb.unionByName(perturbed)
  }

  /** Frozen k-means centroids for stream_semdedup — trained ONCE per dir
    * on the static planted corpus with llm_semdedup's exact parameters
    * (same deterministic ivfCentroids code path → identical cells, so
    * the streaming twin can share the batch gate's pinned hash). */
  private val semCentroidCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()
  private[graft] def semCentroids(s: SparkSession, dir: String): Array[Array[Double]] =
    semCentroidCache.computeIfAbsent(dir, { _ =>
      Similarity.ivfCentroids(plantedEmb(s, dir), "vec_id", "embedding", 64,
        nCells = 16, iters = 4, trainMod = 2)
    })

  /** Frozen BPE merge table for the encode/compose gates — trained ONCE
    * per dir with llm_bpe_merges' exact parameters (the semCentroids
    * frozen-model convention: a tokenizer deploys trained-once; training
    * cost is llm_bpe_merges' own bench row, application cost is the
    * encode rows'). Ranked (left, right) pairs, rank order. */
  private val bpeMergeCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String)]]()
  private[graft] def bpeMergeTable(s: SparkSession, dir: String): Seq[(String, String)] =
    bpeMergeCache.computeIfAbsent(dir, { _ =>
      graft.ml.Bpe.bpeMerges(
          t(s, dir, "documents").repartition(Tables.fanout(s)), "text", nMerges = 30)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
    })

  private val bpeMergeBytesCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String)]]()
  /** The byte-level twin of [[bpeMergeTable]] (its own cache: the two
    * alphabets learn genuinely different tables — no `</w>`, so
    * single-char words never merge and end-of-word pairs don't exist). */
  private[graft] def bpeMergeTableBytes(s: SparkSession, dir: String): Seq[(String, String)] =
    bpeMergeBytesCache.computeIfAbsent(dir, { _ =>
      graft.ml.Bpe.bpeMerges(
          t(s, dir, "documents").repartition(Tables.fanout(s)), "text", nMerges = 30,
          byteLevel = true)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
    })

  private val bpeMergeGpt2Cache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String)]]()
  /** The GPT-2-mode twin (its own cache: GPT-2 pretokens carry the
    * leading space, so the learned table contains space-carrying
    * symbols neither other mode can produce). */
  private[graft] def bpeMergeTableGpt2(s: SparkSession, dir: String): Seq[(String, String)] =
    bpeMergeGpt2Cache.computeIfAbsent(dir, { _ =>
      graft.ml.Bpe.bpeMerges(
          t(s, dir, "documents").repartition(Tables.fanout(s)), "text", nMerges = 30,
          gpt2 = true)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
    })

  /** The planted eval set for the embed-decontaminate pair (every 10th
    * corpus vector, first component perturbed ×1.05+0.01 in DOUBLE — the
    * llm_embed_pairs twin rule, SQL-expressible so the oracle replays
    * it). Cached as collected rows (≤|corpus|/10, bounded the way a
    * benchmark set is) and rebuilt as a tiny broadcast DF per session. */
  private val embEvalCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(Long, Seq[Double])]]()
  private[graft] def embEvalSet(s: SparkSession, dir: String): DataFrame = {
    val rows = embEvalCache.computeIfAbsent(dir, { _ =>
      t(s, dir, "embeddings")
        .filter(col("vec_id") % 10 === 0)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
        .collect()
        .map { r =>
          val v = r.getSeq[Double](1)
          // fail with a nameable row, not v.head's bare
          // NoSuchElementException (r15 advice; the oracle's tv[1] would
          // yield NULL here — surfacing the bad row beats diverging)
          require(v.nonEmpty, s"embEvalSet: empty embedding for vec_id=${r.getLong(0)}")
          (r.getLong(0) + 100000L, (v.head * 1.05 + 0.01) +: v.tail)
        }
    })
    import s.implicits._
    broadcast(rows.toSeq.toDF("_eid", "_ev"))
  }

  /** Shared scoring body of the embed-decontaminate pair: broadcast-eval
    * crossJoin + per-vector partial-aggregable argmax (map-side combine
    * collapses the |eval|-way fan-out before the one-row-per-vector
    * exchange). Ties break on the ROUNDED cosine then smallest eval id —
    * the oracle's row_number(ORDER BY c DESC, eid). */
  private[graft] def embedDeconWith(emb: DataFrame, evalSet: DataFrame): DataFrame =
    emb.crossJoin(evalSet)
      .select(col("vec_id"),
        round(Blob.cosineSimilarity(col("embedding"), col("_ev")), 6).as("_c"),
        col("_eid"))
      .groupBy("vec_id")
      .agg(max(struct(col("_c").as("_c"), (-col("_eid")).as("_nid"))).as("_m"))
      .select(col("vec_id"),
        (-col("_m._nid")).cast(LongType).as("nearest_eval_id"),
        col("_m._c").as("max_cos"),
        (col("_m._c") >= 0.95).as("contaminated"))

  private val embDeconSplitCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** The embeddings table (double-cast) as TWO parquet files for the
    * streaming embed-decontaminate twin. */
  private[graft] def embDeconSplitDir(s: SparkSession, dir: String): java.nio.file.Path =
    embDeconSplitCache.computeIfAbsent(dir, { _ =>
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      Run.writeSplitDir("sed_in", Seq(
        (emb.filter(col("vec_id") % 2 === 0), "0_emb2.parquet"),
        (emb.filter(col("vec_id") % 2 =!= 0), "1_emb2.parquet")))
    })

  private val embSplitCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** plantedEmb written as TWO parquet files in BATCH-PRIORITY order
    * (centroid-cosine desc, vec_id asc — computed with the frozen
    * centroids): under priority-ordered arrival the streaming greedy
    * first-seen rule equals the batch loser rule exactly (a row is
    * dropped iff some HIGHER-priority row is ≥τ-close, and every
    * higher-priority row has already arrived), the same fixture design
    * as docsSplitDir's doc_id ordering for keep-first == min-per-digest. */
  private[graft] def embSplitDir(s: SparkSession, dir: String): java.nio.file.Path =
    embSplitCache.computeIfAbsent(dir, { _ =>
      val cents = semCentroids(s, dir)
      val assign = Similarity.assignCell(cents)
      val ccos = Similarity.centroidCos(cents)
      val ranked = plantedEmb(s, dir)
        .withColumn("_nv", Similarity.normalized(col("embedding")))
        .withColumn("_ccos", ccos(assign(col("_nv")), col("_nv")))
        .withColumn("_rk", row_number().over(
          Window.orderBy(col("_ccos").desc, col("vec_id"))))
      val n = ranked.count()
      val half = (n + 1) / 2
      Run.writeSplitDir("ssd_in", Seq(
        (ranked.filter(col("_rk") <= half).select("vec_id", "embedding"), "0_emb.parquet"),
        (ranked.filter(col("_rk") > half).select("vec_id", "embedding"), "1_emb.parquet")))
    })

  /** Frozen QUANTIZED centroids (ivfCentroidsQ over the planted corpus
    * with llm_semdedup_q's parameters) — cached per dir so the batch
    * gate, the streaming twin and the split-dir ranking all consume ONE
    * training run. Integer training is bit-deterministic, so this is a
    * cost cache, not a correctness crutch (unlike the float
    * semCentroids, where avg() partial-merge order forces sharing). */
  private val semCentroidsQCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Long]]]()
  private[graft] def semCentroidsQ(s: SparkSession, dir: String): Array[Array[Long]] =
    semCentroidsQCache.computeIfAbsent(dir, { _ =>
      Similarity.ivfCentroidsQ(plantedEmb(s, dir), "vec_id", "embedding", 64,
        nCells = 16, iters = 4, trainMod = 2)
    })

  /** Frozen 64-cell quantized centroids for llm_semdedup_hq — the cell
    * count AT Similarity's hierAssignThreshold, so the gate exercises
    * the two-level assignment path. Integer training: a cost cache, not
    * a correctness crutch (bit-deterministic, same as semCentroidsQ). */
  private val semCentroidsHQCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Long]]]()
  private[graft] def semCentroidsHQ(s: SparkSession, dir: String): Array[Array[Long]] =
    semCentroidsHQCache.computeIfAbsent(dir, { _ =>
      Similarity.ivfCentroidsQ(plantedEmb(s, dir), "vec_id", "embedding", 64,
        nCells = 64, iters = 4, trainMod = 2)
    })

  /** Materialized QUANTIZED IVF index per (dir, nCells) — built ONCE
    * per JVM (the semCentroids*Cache convention, r18 advice: the idx
    * gates previously rewrote the full partitioned corpus copy on
    * every invocation and never deleted it). Integer training is
    * bit-deterministic, so this is a cost cache, not a correctness
    * crutch — and it makes the repeated Bench runs of the idx rows
    * measure the partition-pruned READ, which is what production pays
    * on a standing index. */
  private val ivfIdxQCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), String]()
  private[graft] def ivfIndexDirQ(s: SparkSession, dir: String, nCells: Int): String =
    ivfIdxQCache.computeIfAbsent((dir, nCells), { _ =>
      val emb = t(s, dir, "embeddings").repartition(Tables.fanout(s))
      val idx = TempDir(s"graft_ivfq$nCells").toString
      Similarity.ivfWriteIndexQ(emb, "vec_id", "embedding", 64, idx,
        nCells = nCells, iters = 4, trainMod = 2)
      idx
    })

  /** The float sibling (llm_ann_ivf's index) — same once-per-JVM cache
    * and exit cleanup. */
  private val ivfIdxFCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def ivfIndexDirF(s: SparkSession, dir: String): String =
    ivfIdxFCache.computeIfAbsent(dir, { _ =>
      val emb = t(s, dir, "embeddings")
      val idx = TempDir("graft_ivf").toString
      Similarity.ivfWriteIndex(emb, "vec_id", "embedding", 64, idx,
        nCells = 16, iters = 4, trainMod = 2)
      idx
    })

  /** Frozen quantized centroids over the RAW embeddings corpus with
    * llm_ann_ivf_q's exact parameters — cached per dir so the
    * STREAMING index build provably shares the batch ANN gates' model
    * (integer training is bit-deterministic: equal parameters pin
    * equal centroids, which is what lets the streamed index share the
    * batch oracle). */
  private val annCentroidsQCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Long]]]()
  private[graft] def annCentroidsQ(s: SparkSession, dir: String): Array[Array[Long]] =
    annCentroidsQCache.computeIfAbsent(dir, { _ =>
      Similarity.ivfCentroidsQ(t(s, dir, "embeddings").repartition(Tables.fanout(s)),
        "vec_id", "embedding", 64, nCells = 16, iters = 4, trainMod = 2)
    })

  /** STREAM-BUILT quantized IVF index per dir — the
    * standing-index-kept-fresh-by-ingest topology: vectors arrive as a
    * file stream in two micro-batches, each row is tagged ROW-LOCALLY
    * by the frozen model (no shuffle before the sink), and the parquet
    * STREAMING sink appends into the `partitionBy(_cell)` layout; the
    * centroid sidecar completes the index so [[Similarity.ivfTopKIndexedQ]]
    * reads it exactly like a batch-built one. Built once per JVM,
    * removed on exit. The streaming sink emits one fragment per
    * (micro-batch × cell) — the accumulation [[Similarity.ivfCompactIndex]]
    * exists to reclaim (see llm_ann_ivf_idx_compact). */
  private val streamIvfIdxCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def streamIvfIndexDirQ(s: SparkSession, dir: String): String =
    streamIvfIdxCache.computeIfAbsent(dir, { _ =>
      val cents = annCentroidsQ(s, dir)
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val inDir = Run.writeSplitDir("sivfidx_in", Seq(
        (emb.filter(pmod(col("vec_id"), lit(2)) === 0), "0_emb.parquet"),
        (emb.filter(pmod(col("vec_id"), lit(2)) === 1), "1_emb.parquet")))
      val idx = TempDir("graft_sivfidx").toString
      // the same seam rule as every consumer: path from the model's size
      val assign = if (cents.length >= Similarity.hierAssignThreshold)
                     Similarity.assignCellHierQ(cents)
                   else Similarity.assignCellQ(cents)
      val tagged = Run.readSplits(s.newSession(), inDir)
        .select(col("vec_id"), col("embedding"),
          assign(Similarity.quantizeVec(col("embedding"), 1048576.0)).as("_cell"))
      Run.run("stream_ivf_index", tagged,
        Run.Sink.Files("parquet", Some(s"$idx/vectors"), Seq("_cell")))
      Similarity.writeCentroidSidecarQ(idx, cents)
      idx
    })

  /** [[streamIvfIndexDirQ]] COMPACTED (one file per cell) — cached per
    * dir; the maintenance rewrite a long-running streamed index needs. */
  private val compactIvfIdxCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def compactIvfIndexDirQ(s: SparkSession, dir: String): String =
    compactIvfIdxCache.computeIfAbsent(dir, { _ =>
      val src = streamIvfIndexDirQ(s, dir)
      val dst = TempDir("graft_sivfidx_c").toString
      Similarity.ivfCompactIndex(s, src, dst)
      dst
    })

  private val embSplitQCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()
  /** [[embSplitDir]]'s quantized twin: planted vectors split in INTEGER
    * batch-priority order (centroid-dot desc, vec_id asc) so the
    * streaming greedy first-seen rule equals the batch loser rule
    * exactly — which is what lets stream_semdedup_q share
    * llm_semdedup_q's FULL oracle. */
  private[graft] def embSplitDirQ(s: SparkSession, dir: String): java.nio.file.Path =
    embSplitQCache.computeIfAbsent(dir, { _ =>
      val cents = semCentroidsQ(s, dir)
      val assign = Similarity.assignCellQ(cents)
      val prio = Similarity.cellPriorityQ(cents) // ONE priority rule (r17 verdict #2)
      val ranked = plantedEmb(s, dir)
        .withColumn("_qv", Similarity.quantizeVec(col("embedding"), 1048576.0))
        .withColumn("_prio", prio(assign(col("_qv")), col("_qv")))
        .withColumn("_rk", row_number().over(
          Window.orderBy(col("_prio").desc, col("vec_id"))))
      val n = ranked.count()
      val half = (n + 1) / 2
      Run.writeSplitDir("ssdq_in", Seq(
        (ranked.filter(col("_rk") <= half).select("vec_id", "embedding"), "0_emb.parquet"),
        (ranked.filter(col("_rk") > half).select("vec_id", "embedding"), "1_emb.parquet")))
    })

  private val embSplitHQCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()
  /** [[embSplitDirQ]] at the 64-cell HIER model: planted vectors split
    * in the hq batch-priority order (integer centroid-dot under the
    * HIER cell assignment, desc, vec_id asc) so the streaming greedy
    * first-seen rule equals llm_semdedup_hq's batch loser rule exactly
    * — the fixture that lets stream_semdedup_hq share the hq FULL
    * oracle. */
  private[graft] def embSplitDirHQ(s: SparkSession, dir: String): java.nio.file.Path =
    embSplitHQCache.computeIfAbsent(dir, { _ =>
      val cents = semCentroidsHQ(s, dir)
      val assign = Similarity.assignCellHierQ(cents)
      val prio = Similarity.cellPriorityQ(cents)
      val ranked = plantedEmb(s, dir)
        .withColumn("_qv", Similarity.quantizeVec(col("embedding"), 1048576.0))
        .withColumn("_prio", prio(assign(col("_qv")), col("_qv")))
        .withColumn("_rk", row_number().over(
          Window.orderBy(col("_prio").desc, col("vec_id"))))
      val n = ranked.count()
      val half = (n + 1) / 2
      Run.writeSplitDir("ssdhq_in", Seq(
        (ranked.filter(col("_rk") <= half).select("vec_id", "embedding"), "0_emb.parquet"),
        (ranked.filter(col("_rk") > half).select("vec_id", "embedding"), "1_emb.parquet")))
    })

  /** Shared topology of the quantized streaming semdedup gates
    * (stream_semdedup_q flat / stream_semdedup_hq hier): frozen
    * centroids, row-local quantize → cell-assign → priority (the
    * assignment path derives from the cell count via the SAME
    * hierAssignThreshold seam semDedupQ switches on, and the priority
    * is the one shared Similarity.cellPriorityQ — r17 verdict #2),
    * keepDecisionsQ keyed cell state, memory sink drained under
    * AvailableNow. ONE copy so the twins cannot drift (r18 review:
    * previously ~50 duplicated topology lines). */
  private def streamSemDedupQRun(s: SparkSession, cents: Array[Array[Long]],
                                 inDir: java.nio.file.Path,
                                 stateWidth: Int,
                                 name: String): DataFrame = {
    val ss = Run.session(s, stateWidth)
    import ss.implicits._
    val assign = if (cents.length >= Similarity.hierAssignThreshold)
                   Similarity.assignCellHierQ(cents)
                 else Similarity.assignCellQ(cents)
    val prio = Similarity.cellPriorityQ(cents)
    val stream = Run.readSplits(ss, inDir)
      .select(col("vec_id"), Similarity.quantizeVec(col("embedding"), 1048576.0).as("_qv"))
      .withColumn("_cell", assign(col("_qv")))
      .withColumn("_prio", prio(col("_cell"), col("_qv")))
      .select("vec_id", "_cell", "_prio", "_qv")
      .as[(Long, Int, Long, Seq[Long])]
    val decided = graft.streaming.StreamSemDedup.keepDecisionsQ(
      stream, threshold = 4000000000L)
    ss.table(Run.run(name, decided, Run.Sink.Memory()).name)
      .select(col("vec_id"), col("cell").cast(LongType).as("cell"),
        col("priority"), col("keep"))
  }

  /** The RAW documents table as two parquet files (doc_id parity split)
    * for STATELESS file-stream gates — any split works because their
    * per-doc transforms are row-local; parity keeps both batches busy. */
  private[graft] def documentsSplitDir(s: SparkSession, dir: String): java.nio.file.Path =
    documentsSplitCache.computeIfAbsent(dir, { _ =>
      val docs = t(s, dir, "documents").select("doc_id", "text")
      Run.writeSplitDir("sdc_in", Seq(
        (docs.filter(col("doc_id") % 2 === 0), "0_docs.parquet"),
        (docs.filter(col("doc_id") % 2 =!= 0), "1_docs.parquet")))
    })

  /** plantedCorpus written as TWO doc_id-ordered parquet files (originals,
    * then twins) for file-stream gates — the ordering is what makes
    * streaming keep-first-per-digest equal batch min-per-digest. */
  private[graft] def docsSplitDir(s: SparkSession, dir: String): java.nio.file.Path =
    docsSplitCache.computeIfAbsent(dir, { _ =>
      val corpus = plantedCorpus(s, dir)
      val off = twinOffset(s, dir) // originals/twins boundary, never assumed
      Run.writeSplitDir("scs_in", Seq(
        (corpus.filter(col("doc_id") < off), "0_docs.parquet"),
        (corpus.filter(col("doc_id") >= off), "1_docs.parquet")))
    })

  /** llm_phash_pairs body, parameterized on the Hamming radius — the
    * operator's SCALE KNOB: blocks = smallest power of two > maxHamming
    * and block width = 64/blocks bits, so radius 7 → 8-bit blocks → only
    * 256 buckets per block, which a ≥1M-image corpus saturates past the
    * bucket cap (every bucket dropped, recall collapses). The scale form
    * is radius 3 → 16-bit blocks → 65536 buckets per block — the
    * multi-index-hashing trade (block width must grow with the corpus,
    * paying guaranteed-recall radius). The gate runs radius 7 at gate SF;
    * the radius-3 form was measured at scaled dirs (SCALING.md). */
  private[graft] def phashPairs(s: SparkSession, dir: String, maxHamming: Int): DataFrame = {
    val off = twinOffset(s, dir)
    val mk = udf((k: Long) => Multimodal.syntheticImageBmp(k))
    val mkTwin = udf((k: Long) => Multimodal.syntheticImageBmp(k, brighten = 3))
    val ids = t(s, dir, "documents").select("doc_id")
      .repartition(Tables.fanout(s)) // distribute the per-row synth+decode+hash
    val media = ids.select(col("doc_id").as("media_id"), mk(col("doc_id")).as("data"))
      .unionByName(ids.select((col("doc_id") + off).as("media_id"),
        mkTwin(col("doc_id")).as("data")))
    Dedup.hammingBandedPairs(Multimodal.dhashBmp(media, "media_id", "data"),
      "media_id", "dhash", maxHamming = maxHamming)
  }

  private val phashSplitCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** The llm_phash_pairs media fixture (originals + brightness twins) as
    * TWO logical splits — each sharded into fanout files so the
    * micro-batch scan parallelizes and the payload never shuffles (r19) —
    * for the streaming twin. NO ordering requirement — pair emission is
    * symmetric (the second arrival triggers, whichever member it is), so
    * any split equals batch; originals/twins keeps both batches busy. */
  private[graft] def phashSplitDir(s: SparkSession, dir: String): java.nio.file.Path =
    phashSplitCache.computeIfAbsent(dir, { _ =>
      val off = twinOffset(s, dir)
      val mk = udf((k: Long) => Multimodal.syntheticImageBmp(k))
      val mkTwin = udf((k: Long) => Multimodal.syntheticImageBmp(k, brighten = 3))
      val ids = t(s, dir, "documents").select("doc_id").repartition(Tables.fanout(s))
      Run.writeSplitDir("sph_in", Seq(
        (ids.select(col("doc_id").as("media_id"), mk(col("doc_id")).as("data")),
          "0_media.parquet"),
        (ids.select((col("doc_id") + off).as("media_id"), mkTwin(col("doc_id")).as("data")),
          "1_media.parquet")), filesPerPart = Tables.fanout(s))
    })

  private val wavSplitCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** The llm_audiohash_pairs media fixture (originals + gain twins) as
    * TWO sharded logical splits for the streaming twin — phashSplitDir's
    * design applied to the audio modality (no ordering requirement: pair
    * emission is symmetric). */
  private[graft] def wavSplitDir(s: SparkSession, dir: String): java.nio.file.Path =
    wavSplitCache.computeIfAbsent(dir, { _ =>
      val off = twinOffset(s, dir)
      val mk = udf((k: Long) => Multimodal.syntheticWav(k))
      val mkTwin = udf((k: Long) => Multimodal.syntheticWav(k, gainPct = 80))
      val ids = t(s, dir, "documents").select("doc_id").repartition(Tables.fanout(s))
      Run.writeSplitDir("sah_in", Seq(
        (ids.select(col("doc_id").as("media_id"), mk(col("doc_id")).as("data")),
          "0_media.parquet"),
        (ids.select((col("doc_id") + off).as("media_id"), mkTwin(col("doc_id")).as("data")),
          "1_media.parquet")), filesPerPart = Tables.fanout(s))
    })

  private val aviSplitCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** The llm_vhash_pairs media fixture (originals + brightness-re-render
    * twins) as TWO sharded logical splits for the streaming twin —
    * phashSplitDir's design applied to the video modality (the heaviest
    * payload: ~27 KB of AVI per row, the fixture the r19 sharding
    * primarily exists for). */
  private[graft] def aviSplitDir(s: SparkSession, dir: String): java.nio.file.Path =
    aviSplitCache.computeIfAbsent(dir, { _ =>
      val off = twinOffset(s, dir)
      val mk = udf((k: Long) => Multimodal.syntheticVideoAvi(k))
      val mkTwin = udf((k: Long) => Multimodal.syntheticVideoAvi(k, brighten = 3))
      val ids = t(s, dir, "documents").select("doc_id").repartition(Tables.fanout(s))
      Run.writeSplitDir("svh_in", Seq(
        (ids.select(col("doc_id").as("media_id"), mk(col("doc_id")).as("data")),
          "0_media.parquet"),
        (ids.select((col("doc_id") + off).as("media_id"), mkTwin(col("doc_id")).as("data")),
          "1_media.parquet")), filesPerPart = Tables.fanout(s))
    })

  /** SQL-replayable 64-bit fingerprint fixture for the banded-pairing
    * FULL-oracle gates (llm_band_pairs / llm_band_pairs_r7 /
    * stream_band_pairs — r15 verdict #1): every other pair family's
    * fingerprints come from byte decode the oracle cannot express, so
    * their gates are rows-only with pinned hashes; THIS fixture derives
    * the fingerprint from md5 hex (the sampleCoin replay convention —
    * 15 hex chars = a uniform nonnegative 60-bit value, computed
    * IDENTICALLY by Spark's conv() and DuckDB's '0x'-cast), putting the
    * shared banding / bucket-cap / Hamming-verify / pair-dedup core
    * under a DuckDB oracle so the pinned hashes only have to carry the
    * decode kernels.
    *
    * Shape: 8 sig rows per document (id = doc_id*100 + k), plus a
    * planted twin for every k%4==0 row (id+50) whose fingerprint flips
    * h = (doc_id + k) % 9 bits at distinct positions (j*13 + id%7) % 60
    * — so radius 3 must pair exactly the h <= 3 twins and radius 7 the
    * h <= 7 twins (pigeonhole recall, inert cap), and the h = 8 twins
    * pair under NEITHER radius. The top 4 bits are structurally zero,
    * so the high 8-bit band of the r7 split has a 16-key space: REAL
    * degenerate buckets (~n/16 members) that make the r7 gate's
    * maxBucketSize bind — the oracle replays the cap retroactively
    * exactly as hammingBandedPairs does. */
  private[graft] def bandSigParts(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val base = t(s, dir, "documents").select(col("doc_id"))
      .repartition(Tables.fanout(s)) // one-file input
      .select(col("doc_id"), explode(sequence(lit(0L), lit(7L))).as("k"))
      .select((col("doc_id") * 100L + col("k")).as("id"))
      .select(col("id"),
        TextAnalysis.md5Long60(concat(col("id").cast(StringType), lit("graftband"))).as("fp"))
    // h>j CASE chain, xor-folded: positions are distinct (j*13 mod 60
    // cycles through 9 distinct residues), so xor == setting h bits
    val pat = (0 until 9).map(j =>
      s"(CASE WHEN (((id div 100) + (id % 100)) % 9) > $j " +
        s"THEN shiftleft(cast(1 as bigint), (($j * 13) + (id % 7)) % 60) " +
        "ELSE cast(0 as bigint) END)")
      .reduce((a, b) => s"($a ^ $b)")
    val twins = base.filter(col("id") % 4 === 0)
      .withColumn("fp", col("fp").bitwiseXOR(expr(pat))) // pattern of the BASE id
      .withColumn("id", col("id") + 50L) // k in 0..7, twin slots 50..57: disjoint
    (base, twins)
  }

  private val bandSplitCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** The band-sig fixture as TWO parquet files (originals, twins) for
    * stream_band_pairs — phashSplitDir's design with the fingerprint
    * already computed (the streaming body's `fingerprint` hook then just
    * renames the column: the machinery under test is pairing, not
    * decode). */
  private[graft] def bandSplitDir(s: SparkSession, dir: String): java.nio.file.Path =
    bandSplitCache.computeIfAbsent(dir, { _ =>
      val (base, twins) = bandSigParts(s, dir)
      Run.writeSplitDir("sbp_in", Seq(
        (base.select(col("id").as("media_id"), col("fp").as("data")), "0_media.parquet"),
        (twins.select(col("id").as("media_id"), col("fp").as("data")), "1_media.parquet")))
    })

  /** Shared body of the streaming fingerprint-pair twins
    * (stream_phash_pairs / stream_audiohash_pairs / stream_vhash_pairs)
    * — the pairing
    * machinery is fingerprint-agnostic (StreamPhash takes any 64-bit
    * signature), so ONE implementation parameterized on the fused
    * decode+hash column keeps the two modality gates identical by
    * construction. Parameterized on the eviction horizon so the MlSpec
    * retention gates can run NoTimeout vs a not-yet-reached horizon and
    * pin the equality (the streamDupSpans convention). */
  /** The streaming (id_a, id_b, hamming) pair DataFrame the twins sink —
    * extracted from [[streamFingerprintPairs]] so stream_phash_resolve
    * can consume the SAME pair stream through foreachBatch instead of a
    * memory sink. Returns the un-started streaming frame; the caller
    * owns sink, trigger and termination. */
  private[graft] def fingerprintPairStream(
      ss: SparkSession, inDir: java.nio.file.Path,
      fingerprint: (DataFrame, String, String) => DataFrame, sigCol: String,
      evictBucketAfterMs: Option[Long]): DataFrame = {
    // EXPLICIT gate geometry (the pinned-hash convention); a deploy
    // sizes from its ingest meter instead via candidatePairsAuto /
    // autoBlocks — same explode (blockOccurrences), one number in
    val blocks = 8
    // each micro-batch is one LOGICAL split (originals, then twins)
    // however many files it was sharded into — sharded fixtures make the
    // scan parallel, so the heavy payload bytes are decoded in place and
    // ONLY the 8-byte fingerprints cross an exchange
    val media = Run.readSplits(ss, inDir)
    val occ = graft.streaming.StreamPhash.blockOccurrences(
      fingerprint(media, "media_id", "data"), "media_id", sigCol, blocks)
    graft.streaming.StreamPhash.candidatePairs(
      occ, maxHamming = 7, blocks = blocks, evictBucketAfterMs = evictBucketAfterMs)
  }

  private[graft] def streamFingerprintPairs(
      s: SparkSession, inDir: java.nio.file.Path,
      fingerprint: (DataFrame, String, String) => DataFrame, sigCol: String,
      evictBucketAfterMs: Option[Long]): DataFrame = {
    // bucket-keyed state (one key per (block, 8-bit key) bucket seen):
    // full scheduler width, the stream_dup_spans sizing
    val ss = Run.session(s, Tables.fanout(s))
    val pairs = fingerprintPairStream(ss, inDir, fingerprint, sigCol, evictBucketAfterMs)
    ss.table(Run.run("stream_fp_pairs", pairs, Run.Sink.Memory(),
      paced = evictBucketAfterMs.map(_ => inDir)).name)
  }

  /** STREAMING dedup RESOLUTION (r15 verdict #3 — the missing topology):
    * pairs stream out of the fingerprint machinery and an INCREMENTAL
    * union-find folds each micro-batch into a compact (node, label)
    * state table via foreachBatch — the two-phase island-merge form
    * prescribed over a per-key flatMapGroupsWithState union-find
    * (path compression across keys needs cross-group reads a keyed
    * state fn cannot do; a state TABLE compacted per batch can).
    *
    * Per batch: state's (node → label) rows are themselves edges that
    * reconnect every previously-found component (each is a min-label
    * STAR, so re-convergence is 1-2 path-doubling rounds, not diameter);
    * union them with the batch's new pairs and rerun the shared
    * [[graft.ml.Dedup.connectedComponents]]. Min-label CC is CONFLUENT
    * under this folding — stars preserve connectivity and min() is
    * associative — so the final state equals batch CC over all pairs
    * regardless of arrival order or batch boundaries, which is why
    * stream_phash_resolve shares llm_phash_resolve's pinned hash
    * verbatim. State is bounded by the nodes that EVER appear in a pair
    * (the duplicate subset, not the corpus); alternating versioned
    * parquet dirs keep the read side immutable while the next version
    * writes (at deploy scale the same loop runs compaction every N
    * batches instead of every batch). */
  /** Fold a streaming (id_a, id_b, ...) pair frame through the
    * incremental union-find: micro-batch pairs union with the previous
    * compacted state's (node → label) star edges and re-run
    * [[graft.ml.Dedup.connectedComponents]]; the result overwrites the
    * state (alternating versioned dirs keep the read side immutable
    * while the next version writes). Returns the FINAL compacted state,
    * or None if no pair ever arrived. Shared by stream_phash_resolve
    * and the MlSpec cadence spec, so the gate and the spec exercise the
    * same machinery.
    *
    * `compactEvery` is the deploy knob: with N > 1, batches dump their
    * (slim, two-column) pairs to parquet and only every Nth batch pays
    * a CC compaction over the accumulated dump + state — the per-batch
    * streaming premium becomes one parquet append, and the CC fixed
    * cost amortizes over N batches. Min-label CC is confluent under ANY
    * grouping of the edge folds, so the final state is IDENTICAL for
    * every N (MlSpec pins the cadence-invariance).
    * A trailing partial group compacts after the stream drains. */
  private[graft] def runIncrementalResolve(ss: SparkSession, pairs: DataFrame,
                                           compactEvery: Int = 1,
                                           localEdgeLimit: Long = 2000000L)
      : Option[DataFrame] = {
    val stateRoot = TempDir("spr_state")
    // driver-side pointers (foreachBatch bodies run on the driver,
    // serially per query)
    val current = new java.util.concurrent.atomic.AtomicReference[String](null)
    val pending = scala.collection.mutable.ListBuffer.empty[String]
    def compact(newEdges: DataFrame, tag: String): Unit = {
      import ss.implicits._
      val prev = Option(current.get()).map(p => ss.read.parquet(p))
      val stateEdges = prev.map(_.select(col("node").as("id_a"), col("label").as("id_b")))
      // counted once, then labeled by ONE consumer
      val edges = Checkpoint.lazily(stateEdges.fold(newEdges)(newEdges.unionByName(_)))
      val n = edges.count()
      // THE MERGE-AXIS FORK, applied to resolution (bpeMerges'
      // convention): below the limit the edge list is tiny relative to
      // the cluster — the driver-side union-find kernel labels it in
      // milliseconds, where the distributed operator still schedules its
      // contraction shuffle, label aggregate and edge test as jobs
      // (stream_phash_resolve at sf0.1, 4 cores, same JVM: 1.57 s with
      // the fork, 1.93 s without). 2M edges = 32 MB collected; both paths
      // produce THE min-label set (MlSpec pins equality on seeded random
      // graphs).
      val next =
        if (n <= localEdgeLimit) {
          val e = edges.select(col("id_a"), col("id_b")).as[(Long, Long)].collect()
          val (ids, labels) = graft.ml.Dedup.localMinLabel(e.map(_._1), e.map(_._2))
          ss.createDataset(ids.toSeq.zip(labels.toSeq)).toDF("node", "label")
            .repartition(1) // state is compact by construction
        } else {
          val nodes = edges.select(col("id_a").as("node"))
            .unionByName(edges.select(col("id_b").as("node"))).distinct()
          // rounds = 4, not the default 6, per fallback batch: the prior
          // state is min-label STARS (depth 1), so only the new edges'
          // own pair chains add diameter, and a pathological long-chain
          // group just runs another batch
          Dedup.connectedComponents(nodes, edges, rounds = 4)
        }
      val vdir = stateRoot.resolve(s"v$tag").toString
      next.write.mode("overwrite").parquet(vdir)
      current.set(vdir)
      // the merged edge checkpoint is fully consumed (count + label +
      // state write all materialized) — release its blocks here or they
      // accumulate one per compaction for the life of the stream
      Checkpoint.release(edges)
    }
    Run.run("stream_resolve", pairs, Run.Sink.Batches { (batch, bid) =>
      val b = batch.select("id_a", "id_b")
      if (compactEvery <= 1) {
        if (!b.isEmpty) compact(b, bid.toString)
      } else {
        if (!b.isEmpty) {
          val d = stateRoot.resolve(s"p$bid").toString
          b.write.mode("overwrite").parquet(d)
          pending += d
        }
        if (pending.nonEmpty && (bid + 1) % compactEvery == 0) {
          compact(ss.read.parquet(pending.toSeq: _*), bid.toString)
          pending.clear()
        }
      }
    })
    if (pending.nonEmpty) { // trailing partial group
      compact(ss.read.parquet(pending.toSeq: _*), "final")
      pending.clear()
    }
    Option(current.get()).map(p => ss.read.parquet(p))
  }

  private[graft] def streamPhashResolve(s: SparkSession, dir: String): DataFrame = {
    val ss = Run.session(s, Tables.fanout(s))
    val pairs = fingerprintPairStream(ss, phashSplitDir(s, dir),
      (df, idc, dc) => Multimodal.dhashBmp(df, idc, dc), "dhash",
      evictBucketAfterMs = None)
    val finalState = runIncrementalResolve(ss, pairs)
    // resolution over the FULL node set: nodes never seen in a pair are
    // their own singleton cluster (llm_phash_resolve's contract)
    val off = twinOffset(s, dir)
    val allNodes = t(s, dir, "documents").select(col("doc_id").as("node"))
      .unionByName(t(s, dir, "documents").select((col("doc_id") + off).as("node")))
    val state = finalState
      .getOrElse(ss.emptyDataFrame.select(lit(0L).as("node"), lit(0L).as("label")).limit(0))
    allNodes.join(state.withColumnRenamed("label", "_lbl"), Seq("node"), "left")
      .select(col("node").as("media_id"),
        coalesce(col("_lbl"), col("node")).as("cluster_id"),
        when(coalesce(col("_lbl"), col("node")) === col("node"), 1L).otherwise(0L).as("keep"))
  }

  /** stream_semdedup body, parameterized on the cold-cell eviction
    * horizon (streamDupSpans convention — the MlSpec retention gate
    * runs it both ways and pins NoTimeout == not-yet-reached-horizon). */
  private[graft] def streamSemDedupRun(s: SparkSession, dir: String,
                                       evictCellAfterMs: Option[Long]): DataFrame = {
    // state keys = 16 cells: size the state exchange to state volume
    // (the stream_corpus_select small-state convention)
    val ss = Run.session(s, 8)
    import ss.implicits._
    val cents = semCentroids(s, dir) // frozen: trained once, cached per dir
    val inDir = embSplitDir(s, dir)
    val assign = Similarity.assignCell(cents)
    val ccos = Similarity.centroidCos(cents)
    val stream = Run.readSplits(ss, inDir)
      .select(col("vec_id"), Similarity.normalized(col("embedding")).as("_nv"))
      .withColumn("_cell", assign(col("_nv")))
      .withColumn("_ccos", ccos(col("_cell"), col("_nv")))
      .select("vec_id", "_cell", "_ccos", "_nv")
      .as[(Long, Int, Double, Seq[Double])]
    val decided = graft.streaming.StreamSemDedup.keepDecisions(
      stream, threshold = 0.95, evictCellAfterMs = evictCellAfterMs)
    val q = Run.run("stream_semdedup", decided, Run.Sink.Memory(),
      paced = evictCellAfterMs.map(_ => inDir))
    ss.table(q.name).select(col("vec_id"), col("cell").cast(LongType).as("cell"),
      round(col("centroid_cos"), 6).as("centroid_cos"), col("keep"))
  }

  /** stream_dup_spans body, parameterized on the singleton-eviction
    * horizon so the MlSpec retention gate can run it BOTH ways
    * (NoTimeout vs a not-yet-reached horizon) and pin the equality.
    * Unique memory-sink name per invocation: the two runs share a JVM. */
  private[graft] def streamDupSpans(s: SparkSession, dir: String,
                                    evictSingletonsAfterMs: Option[Long]): DataFrame = {
    // state exchange sized to STATE VOLUME: span-dedup state is one
    // entry per distinct window digest (~two orders of magnitude more
    // keys than corpus-select's per-document digests), so it gets the
    // full scheduler width, not the small-state 8 (30x probe: the
    // 8-partition cap was the one super-linear step in the curve)
    val ss = Run.session(s, Tables.fanout(s))
    import ss.implicits._
    val w = 15
    val inDir = docsSplitDir(s, dir)
    val occStream = Run.readSplits(ss, inDir)
      .select(col("doc_id"), Dedup.tokens(col("text")).as("_t"))
      .filter(size(col("_t")) >= w)
      .select(col("doc_id"), posexplode(Dedup.windowDigests(col("_t"), w)).as(Seq("pos", "h")))
      .toDF("_1", "_2", "_3").as[(Long, Int, Long)]
    val dupOcc = graft.streaming.StreamDedup.dupOccurrences(occStream, evictSingletonsAfterMs)
    val q = Run.run("stream_dup_spans_occ", dupOcc, Run.Sink.Memory(),
      paced = evictSingletonsAfterMs.map(_ => inDir))
    Dedup.spansFromOccurrences(ss.table(q.name), w)
  }

  /** (doc_id, cluster_id) near-dup component resolution over the planted
    * corpus — shared by llm_dedup_resolve and llm_dedup_keep_best so the
    * two canonical-selection rules provably act on the SAME graph.
    *
    * Star edges via groupBy(min)+join-back, not a min-over-window on the
    * content digest: a viral duplicate text is a hot digest, and the
    * window form funnels all its rows into one task (window-skew audit,
    * PLANS.md). The slim (id, digest) table is checkpointed so the agg
    * and the probe don't re-scan the corpus. Resolution =
    * Dedup.connectedComponents (min-label propagation with path
    * doubling, O(log d) shuffle rounds). */
  private def resolvedClusters(s: SparkSession, dir: String): DataFrame = {
    val corpus = plantedCorpus(s, dir)
    val dig = Checkpoint.lazily(corpus.select(col("doc_id"), md5(col("text").cast(BinaryType)).as("_d")))
    val digMin = dig.groupBy("_d").agg(min("doc_id").as("_m"))
    val starEdges = dig.join(digMin, "_d")
      .filter(col("doc_id") =!= col("_m"))
      .select(col("_m").as("id_a"), col("doc_id").as("id_b"))
    // fanout before the shingle build (one-file input: the per-row
    // n-gram work would otherwise run on a single scan split), compute
    // shingles ONCE and self-join — both sides share the exchange
    val sh = t(s, dir, "documents").repartition(Tables.fanout(s))
      .select(col("doc_id"), array_distinct(Dedup.shingles(col("text"), 3)).as("sh"))
    val jacEdges = sh.as("a").join(sh.as("b"),
        col("b.doc_id") === col("a.doc_id") + 1)
      .filter(size(array_intersect(col("a.sh"), col("b.sh"))).cast(DoubleType) /
        size(array_union(col("a.sh"), col("b.sh"))).cast(DoubleType) >= 0.02)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    Dedup.connectedComponents(corpus.select(col("doc_id").as("node")),
        starEdges.unionByName(jacEdges))
      .select(col("node").as("doc_id"), col("label").as("cluster_id"))
  }

  val queries: Map[String, Q] = Map(

    // token counting: whitespace + BPE-ish regex subwords
    "llm_token_stats" -> ((s, dir) => t(s, dir, "documents").select(
      col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast(LongType).as("n_tokens"),
      TextAnalysis.subwordCount(col("text")).cast(LongType).as("n_subwords"),
      TextAnalysis.charCount(col("text")).cast(LongType).as("n_chars_calc"))),

    // quality scoring (length/punct/stopword/word-length bands)
    "llm_quality" -> ((s, dir) => t(s, dir, "documents").repartition(Tables.fanout(s)).select(
      col("doc_id"),
      round(TextAnalysis.punctRatio(col("text")), 6).as("punct_ratio"),
      round(TextAnalysis.stopwordRatio(col("text")), 6).as("stop_ratio"),
      round(TextAnalysis.meanWordLength(col("text")), 6).as("mean_word_len"),
      TextAnalysis.qualityScore(col("text")).as("quality"))),

    // language ID (n-gram/stopword heuristic) — non-SQL: rows-only + ScalaTest accuracy gate
    "llm_langid" -> ((s, dir) => t(s, dir, "documents").select(
      col("doc_id"), col("lang"),
      TextAnalysis.langId(col("text")).as("lang_pred"))),

    // document fingerprint: md5 of sorted distinct token set (OpenRefine flavor)
    "llm_fingerprint" -> ((s, dir) => t(s, dir, "documents").select(
      col("doc_id"),
      md5(array_join(array_sort(array_distinct(Dedup.tokens(col("text")))), " ")
        .cast(BinaryType)).as("fp_md5"))),

    // exact dedup on content digest: deterministic winner per group
    "llm_dedup_exact" -> ((s, dir) =>
      Dedup.exact(plantedCorpus(s, dir), "text", col("doc_id"))
        .select("doc_id")),

    // dedup RESOLUTION: near-dup pairs → connected components → one
    // canonical doc per cluster (the step that actually DROPS the
    // duplicates a pair generator finds). The edge set here is fully
    // deterministic — exact-digest stars over the planted corpus plus
    // consecutive-id shingle-Jaccard ≥ 0.02 — so the complete cluster
    // assignment is DuckDB-checkable via a recursive CTE; the
    // probabilistic pair generators have their own exact-baseline gates
    // (MlSpec). Resolution = Dedup.connectedComponents (min-label
    // propagation with path doubling, O(log d) shuffle rounds).
    "llm_dedup_resolve" -> ((s, dir) =>
      resolvedClusters(s, dir)
        .withColumn("keep",
          when(col("doc_id") === col("cluster_id"), 1L).otherwise(0L))),

    // Quality-aware canonical selection over the SAME component graph:
    // instead of keeping the min-id member (llm_dedup_resolve's rule),
    // keep each cluster's HIGHEST-quality member (doc_id tiebreak) —
    // what a real pipeline wants when one duplicate is a clean copy and
    // another is a truncated/boilerplate-ridden one. One extra
    // partial-agg shuffle (max_by over the cluster key) on top of the
    // shared resolution; quality is computed for every member so the
    // max_by ordering struct is non-null by construction (the min_by/
    // max_by null contract, Dedup.scala). Full recursive-CTE oracle.
    "llm_dedup_keep_best" -> ((s, dir) => {
      val q = plantedCorpus(s, dir).repartition(Tables.fanout(s))
        .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
      resolvedClusters(s, dir).join(q, "doc_id")
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_members"),
          max_by(struct(col("doc_id"), col("quality")),
            struct(col("quality"), -col("doc_id"))).as("_w"))
        .select(col("cluster_id"), col("_w.doc_id").as("doc_id"),
          col("_w.quality").as("quality"), col("n_members"))
    }),

    // substring-level (span) dedup: maximal 15-token spans occurring ≥2×
    // anywhere in the planted corpus (Lee et al. 2021 sequence-dedup
    // flavor — catches boilerplate/templated spans that document-level
    // dedup misses; the planted 40-token twins guarantee known spans).
    // Fully deterministic → complete DuckDB oracle (same windowing +
    // gaps-and-islands merge). fanout: window building is the per-row
    // heavy stage ahead of the first exchange, and the input is one file.
    "llm_dup_spans" -> ((s, dir) =>
      Dedup.dupSpans(plantedCorpus(s, dir).repartition(Tables.fanout(s)),
        "doc_id", "text", w = 15)),

    // DEGENERATE-corpus span dedup — the SkewProbe shape promoted into a
    // standing gate + bench row (r12 verdict): half the docs share ONE
    // viral 15-token window (2M occurrences of one digest at probe
    // scale), the exact shape that made a window-function count a
    // one-task straggler. 20 synthetic docs per documents row (~100k
    // docs at bench SF); even ids carry the viral window + a unique
    // 5-token tail, odd ids are 20 unique tokens. The oracle is CLOSED
    // FORM (derived independently from the construction, not a replay
    // of the window rule): every even doc's only duplicated window sits
    // at offset 0 → span [0, 15), n_windows 1.
    "llm_dup_spans_skew" -> ((s, dir) => {
      val amp = 20
      val viral = (1 to 15).map(i => s"b$i").mkString(" ")
      def tail(p: String, k: Int) = concat_ws(" ",
        (1 to k).map(j => concat(lit(p), col("id"), lit(s"x$j"))): _*)
      val ids = t(s, dir, "documents").select(
          explode(sequence(col("doc_id") * amp, col("doc_id") * amp + (amp - 1))).as("id"))
        .repartition(Tables.fanout(s)) // distribute the per-row synthesis
      val docs = ids.select(col("id").as("doc_id"),
        when(col("id") % 2 === 0, concat(lit(viral + " "), tail("u", 5)))
          .otherwise(tail("q", 20)).as("text"))
      Dedup.dupSpans(docs, "doc_id", "text", w = 15)
    }),

    // corpus duplication statistics — the headline number a dedup pass
    // reports (what fraction of corpus tokens sit inside duplicated
    // spans): one aggregate over the span table + per-doc token counts
    "llm_dup_stats" -> ((s, dir) => {
      val spans = Dedup.dupSpans(plantedCorpus(s, dir).repartition(Tables.fanout(s)),
          "doc_id", "text", w = 15)
        .groupBy("doc_id").agg(sum(col("span_end") - col("span_start")).as("_dup"))
      val toks = plantedCorpus(s, dir).repartition(Tables.fanout(s))
        .select(col("doc_id"), size(Dedup.tokens(col("text"))).cast(LongType).as("_n"))
      toks.join(spans, Seq("doc_id"), "left_outer")
        .agg(count(lit(1)).as("n_docs"),
          count(col("_dup")).as("n_docs_with_dups"),
          sum(coalesce(col("_dup"), lit(0L))).as("dup_tokens"),
          sum(col("_n")).as("total_tokens"))
        .select(col("n_docs"), col("n_docs_with_dups"), col("dup_tokens"), col("total_tokens"),
          round(col("dup_tokens").cast(DoubleType) / col("total_tokens"), 6).as("dup_fraction"))
    }),

    // the CUT step (Lee et al. keep-first policy): canonical occurrence
    // of each duplicated window survives, every other occurrence is cut;
    // docs fully covered by cuts stay as empty rows. Deterministic →
    // full oracle.
    "llm_dup_cut" -> ((s, dir) =>
      Dedup.dupSpanCut(plantedCorpus(s, dir).repartition(Tables.fanout(s)),
        "doc_id", "text", w = 15)),

    // BM25 topical relevance against a fixed seed-keyword set (corpus
    // filtering/weighting). Lucene-flavored non-negative idf; scores
    // rounded post-sum for the hash compare.
    "llm_bm25" -> ((s, dir) =>
      TextAnalysis.bm25(t(s, dir, "documents").repartition(Tables.fanout(s)),
          "doc_id", "text", Seq("scan", "merge", "window"))
        .select(col("doc_id"), round(col("score"), 6).as("score"))),

    // TOKENIZER TRAINING: BPE merge-table learning (Sennrich et al.
    // 2016) — 30 ranked merges from the corpus. One corpus pass builds
    // the word-frequency table; all 30 iterations run over that
    // vocab-bounded table (pair partial-agg + 1-row argmax + narrow
    // merge map, lazily checkpointed per iteration — the
    // connectedComponents lineage discipline). Deterministic
    // (lexicographic argmax tie-break) → FULL DuckDB oracle: the 30
    // iterations replay as 30 chained materialized CTEs whose merge
    // application is a global regexp_replace over a delimiter-encoded
    // symbol string (see the oracle's comment) — plus the hand-derived
    // Sennrich-fixture spec.
    "llm_bpe_merges" -> ((s, dir) =>
      graft.ml.Bpe.bpeMerges(
        t(s, dir, "documents").repartition(Tables.fanout(s)), "text", nMerges = 30)),

    // TOKENIZER APPLICATION — the step that makes the trained merge
    // table a tokenizer (r14: "the training output is currently a dead
    // end"): the ≤30-row table rides in the task closure, encoding is
    // pure per-row work (no shuffle, no join — the only topology that
    // survives 100 TB) with a per-partition word cache (Zipf: each
    // distinct word encodes once per partition). Full DuckDB oracle:
    // the training chain's final word table IS the word→subwords map —
    // carry the word through the 30 CTEs and join each doc's tokens
    // against it (same regexp-encoded greedy apply, provably the same
    // rule encodeWord replays via min-rank iteration — Bpe.scaladoc).
    "llm_bpe_encode" -> ((s, dir) =>
      graft.ml.Bpe.encodeDocs(
          t(s, dir, "documents").repartition(Tables.fanout(s)), "doc_id", "text",
          bpeMergeTable(s, dir))
        .select(col("doc_id"), array_join(col("bpe"), " ").as("bpe_text"),
          size(col("bpe")).cast(LongType).as("n_bpe"))),

    // Tokenizer ROUNDTRIP gate (r16): decode(encode(doc)) must equal the
    // tokenizer-input token stream — the losslessness invariant every
    // tokenizer ships with, stated as its own oracle row rather than
    // implied by the encode gate. Decode is pure Column work: subwords
    // concatenate (merges only ever concatenate), `</w>` marks word
    // ends -> one space; the oracle computes the SAME string from the
    // raw tokens without ever seeing the tokenizer, so a lossy merge
    // table or a decode bug cannot hash-match.
    "llm_bpe_roundtrip" -> ((s, dir) =>
      graft.ml.Bpe.encodeDocs(
          t(s, dir, "documents").repartition(Tables.fanout(s)), "doc_id", "text",
          bpeMergeTable(s, dir))
        .select(col("doc_id"),
          // strip only a TRAILING '</w>' per token (a symbol carries at
          // most one marker, always at its end — merges never cross the
          // word boundary), never a mid-token literal: a corpus word
          // containing the raw substring '</w>' must decode verbatim,
          // not gain a spurious space (r16 advice; latent only — the
          // tokenizer's split can't emit '<' today)
          rtrim(array_join(transform(col("bpe"), t =>
            when(t.endsWith("</w>"),
              concat(t.substr(lit(1), length(t) - 4), lit(" "))).otherwise(t)),
            "")).as("decoded_text"))),

    // BYTE-LEVEL BPE mode (r15 verdict #4: the GPT-2-family alphabet —
    // 256 byte base symbols, no `</w>` marker; see Bpe's fidelity note):
    // trains its OWN 30-merge table and encodes with it, under a FULL
    // DuckDB oracle reusing the training-chain replay with the marker
    // term dropped. The oracle's per-CODEPOINT '.'-split equals the
    // per-BYTE split because the driver corpus is pure ASCII (verified;
    // BpeSpec pins the multi-byte divergence the oracle can't express).
    "llm_bpe_encode_bytes" -> ((s, dir) =>
      graft.ml.Bpe.encodeDocs(
          t(s, dir, "documents").repartition(Tables.fanout(s)), "doc_id", "text",
          bpeMergeTableBytes(s, dir), byteLevel = true)
        .select(col("doc_id"), array_join(col("bpe"), " ").as("bpe_text"),
          size(col("bpe")).cast(LongType).as("n_bpe"))),

    // GPT-2 MODE (r16 verdict #1 — the production tokenizer): byte
    // alphabet + the published Radford et al. 2019 regex pre-tokenizer
    // (contractions, letter/digit/other runs, the LEADING SPACE CARRIED
    // INSIDE the token — Bpe.pretokensGpt2). Trains its own 30-merge
    // table over the space-carrying pretokens and encodes with it. FULL
    // oracle: the training-chain replay with the pretoken source swapped
    // to the regex (RE2-expressible on this corpus — the lookahead
    // whitespace branches can never fire on single-spaced text; the
    // corpus precondition and the off-ASCII/whitespace cases the oracle
    // can't see are pinned in BpeSpec fixtures).
    "llm_bpe_merges_gpt2" -> ((s, dir) =>
      graft.ml.Bpe.bpeMerges(
        t(s, dir, "documents").repartition(Tables.fanout(s)), "text", nMerges = 30,
        gpt2 = true)),

    "llm_bpe_encode_gpt2" -> ((s, dir) =>
      graft.ml.Bpe.encodeDocs(
          t(s, dir, "documents").repartition(Tables.fanout(s)), "doc_id", "text",
          bpeMergeTableGpt2(s, dir), gpt2 = true)
        .select(col("doc_id"), array_join(col("bpe"), " ").as("bpe_text"),
          size(col("bpe")).cast(LongType).as("n_bpe"))),

    // GPT-2 roundtrip — the invariant the whole mode exists for: the
    // pretokens PARTITION the text and carry their own spaces, so
    // decode(encode(text)) == text BYTE-EXACTLY. The oracle never runs
    // the tokenizer: the expected string is the raw document text
    // itself — the strongest possible losslessness gate (the `</w>`
    // mode can only roundtrip the token STREAM; this roundtrips the
    // document).
    "llm_bpe_roundtrip_gpt2" -> ((s, dir) => {
      val dec = udf((toks: Seq[String]) =>
        if (toks == null) "" else graft.ml.Bpe.decodeBytes(toks))
      graft.ml.Bpe.encodeDocs(
          t(s, dir, "documents").repartition(Tables.fanout(s)), "doc_id", "text",
          bpeMergeTableGpt2(s, dir), gpt2 = true)
        .select(col("doc_id"), dec(col("bpe")).as("decoded_text"))
    }),

    // token stats REBASED on the trained tokenizer (train→tokenize→count
    // as one chain): subword count + per-word fertility, the stat that
    // actually sizes a training run. n_words recovered from the encoded
    // stream itself (each word contributes exactly one '</w>'-suffixed
    // subword — the marker only ever ends a symbol), so the whole row is
    // ONE encode pass, no second tokenize or join.
    "llm_bpe_token_stats" -> ((s, dir) => {
      val enc = graft.ml.Bpe.encodeDocs(
        t(s, dir, "documents").repartition(Tables.fanout(s)), "doc_id", "text",
        bpeMergeTable(s, dir))
      enc.select(col("doc_id"),
          size(col("bpe")).cast(LongType).as("n_bpe"),
          size(filter(col("bpe"), x => x.endsWith("</w>"))).cast(LongType).as("n_words"))
        .select(col("doc_id"), col("n_words"), col("n_bpe"),
          round(when(col("n_words") === 0L, 0.0)
            .otherwise(col("n_bpe").cast(DoubleType) / col("n_words")), 6).as("fertility"))
    }),

    // sequence packing REBASED on BPE token counts — the pipeline a
    // trainer actually runs (tokenize → pack to the model's context
    // budget); same shard/window machinery as llm_pack_sequences, fed
    // by the encode pass instead of the whitespace count.
    "llm_bpe_pack" -> ((s, dir) => {
      val d = graft.ml.Bpe.encodeDocs(
          t(s, dir, "documents").repartition(Tables.fanout(s)), "doc_id", "text",
          bpeMergeTable(s, dir))
        .select(col("doc_id"), size(col("bpe")).cast(LongType).as("n_tokens"))
      TextAnalysis.packSequences(d, "doc_id", "n_tokens", budget = 512, shards = 8,
          shardBy = Some(pmod(col("doc_id"), lit(8L))))
        .select("doc_id", "shard", "pack_id", "n_tokens")
    }),

    // vocabulary building: top-100 bigrams by frequency with a total
    // tie-break (freq desc, bigram asc) — TakeOrderedAndProject, no
    // global sort. The unigram vocab is the llm_unigram_logprob pass.
    "llm_vocab_topk" -> ((s, dir) =>
      t(s, dir, "documents").repartition(Tables.fanout(s))
        .select(explode(Dedup.shingles(col("text"), 2)).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("bigram"))
        .limit(100)),

    // END-TO-END corpus selection — the composition a training pipeline
    // actually ships, as ONE declarative plan: canonical-copy exact
    // dedup (groupBy(digest) + min(struct) — partial agg absorbs a viral
    // duplicate map-side where the previous min-over-window funneled it
    // into one task) + strict quality bar (all four bands — the C4-flavor
    // keep rule) + token-length band + eval-set decontamination
    // (broadcast-gram anti-join). Every component is individually gated;
    // this row gates the composition. The shared corpus is NOT
    // pre-repartitioned (the main pipeline's first exchange is the digest
    // aggregate); decontaminate adds its own fanout ahead of its per-row
    // shingle stage. Quality/token scoring runs AFTER the dedup aggregate
    // — only survivors pay the per-row text math.
    "llm_corpus_select" -> ((s, dir) => {
      val corpus = plantedCorpus(s, dir)
      val evalSet = t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
        .select(substring_index(col("text"), " ", 20).as("text"))
      // r20: dedup + quality/token band FIRST, checkpointed once — the
      // candidate set (~37% of the corpus at gate scale) is all that
      // decontamination needs to scan; the pre-r20 shape exploded the
      // FULL corpus's 5-gram windows into the broadcast match and threw
      // the non-survivors' work away at the anti-join. Per-doc
      // decontamination is independent of other docs, so
      // contaminated(corpus) ∩ survivors == contaminated(survivors) and
      // the anti-join result is unchanged (oracle-verified). The
      // checkpoint is the standard space-for-pass trade; without it the
      // decontaminate consumer would re-run the digest aggregate — at
      // 100 TB a second full-corpus shuffle. No repartition ahead of the
      // shingle stage anymore: the checkpoint already reads back at full
      // scheduler width, hash-balanced by the digest exchange.
      val survivors = Checkpoint.lazily(corpus
        .groupBy(md5(col("text").cast(BinaryType)).as("_d"))
        .agg(min(struct(col("doc_id"), col("text"))).as("_w"))
        .select(col("_w.doc_id").as("doc_id"), col("_w.text").as("text"))
        .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast(LongType))
        .withColumn("quality", TextAnalysis.qualityScore(col("text")))
        .filter(col("quality") >= 1.0 && col("n_tokens").between(20, 1000)))
      val contaminated = Dedup.decontaminate(
          survivors, evalSet, "doc_id", "text", n = 5)
        .select("doc_id")
      survivors.join(contaminated, Seq("doc_id"), "left_anti")
        .select("doc_id", "n_tokens", "quality")
    }),

    // STREAMING twin of llm_corpus_select: the same selection over a
    // micro-batched corpus. Canonical-copy dedup is cross-batch keyed
    // state — flatMapGroupsWithState on the content digest emits the
    // batch-min doc the FIRST time a digest is seen (dropDuplicates
    // would keep an ARBITRARY row among same-batch duplicates; the
    // explicit min makes the survivor deterministic). The splits are
    // doc_id-ordered, so the first batch containing a digest holds its
    // global min and streaming keep-first equals the batch oracle's
    // min-per-digest. Quality/token filters are stateless; the
    // decontamination set is a batch-side static joined stream-static.
    "stream_corpus_select" -> ((s, dir) => {
      // The whole gate runs on its OWN SparkSession (shared SparkContext,
      // isolated SQLConf/catalog): the streaming-state exchange wants a
      // small shuffle-partition count (sized to state volume), and a
      // session-global conf.set would leak into any query planned
      // concurrently on the caller's session (round-11 advice).
      val ss = Run.session(s, 8)
      import ss.implicits._
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
      val evalSet = t(ss, dir, "documents").filter(col("doc_id") % 10 === 0)
        .select(substring_index(col("text"), " ", 20).as("text"))
      // localCheckpoint: the stream-static join re-executes the static
      // subtree EVERY micro-batch — without this the decontamination
      // scan+shingle pass (the query's heaviest stage) runs once per
      // trigger instead of once
      val contaminated = Checkpoint.lazily(Dedup.decontaminate(
          plantedCorpus(ss, dir).repartition(Tables.fanout(ss)), evalSet, "doc_id", "text", n = 5)
        .select(col("doc_id"), lit(1).as("_c")))
      // Keep-first depends on batch MEMBERSHIP, not intra-batch order
      // (the state fn takes minBy over each batch's rows), so the reader's
      // round-robin exchange cannot change the result.
      val stream = Run.readSplits(ss, docsSplitDir(s, dir))
        .select(col("doc_id"), md5(col("text").cast(BinaryType)).as("_d"),
          TextAnalysis.tokenCount(col("text")).cast(LongType).as("n_tokens"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        .toDF("_1", "_2", "_3", "_4").as[(Long, String, Long, Double)]
      val canonical = stream.groupByKey(_._2)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
          (_: String, rows: Iterator[(Long, String, Long, Double)],
           state: GroupState[Boolean]) =>
            if (state.exists) Iterator.empty
            else { state.update(true); Iterator(rows.minBy(_._1)) })
        .toDF("doc_id", "_d", "n_tokens", "quality")
      val selected = canonical
        .filter(col("quality") >= 1.0 && col("n_tokens").between(20, 1000))
        .join(contaminated, Seq("doc_id"), "left_outer")
        .filter(col("_c").isNull)
        .select("doc_id", "n_tokens", "quality")
      ss.table(Run.run("stream_corpus_select", selected, Run.Sink.Memory()).name)
    }),

    // STREAMING twin of llm_dup_spans — the shape a continuous-ingestion
    // pipeline needs: cross-batch window-digest state. Each micro-batch
    // explodes its docs into W-token window digests (stateless,
    // map-side, the SAME Dedup.windowDigests rule as batch);
    // flatMapGroupsWithState keyed on the digest emits occurrences once
    // the digest's cross-batch count crosses 2 (state remembers the
    // first occurrence so it is emitted retroactively, then a viral
    // digest emits every later occurrence immediately). The final
    // gaps-and-islands merge is a finishing batch compaction over the
    // streamed occurrence set (streaming-ingest + batch-compact, the
    // standard split: the STATE is streaming, the island merge is a
    // per-doc batch pass). Skew note: keyed streaming state shuffles on
    // the digest, but the per-task pile for a viral digest is bounded
    // by ONE micro-batch's occurrences, not the corpus — the trigger
    // interval is the built-in skew ceiling.
    // The GATE runs the eviction-capable path with a 1-hour singleton
    // horizon: a horizon the run never reaches is provably identical to
    // NoTimeout (MlSpec pins the equality), so the gate exercises the
    // retention code you would deploy while sharing the batch oracle
    // verbatim. The recall trade + RocksDB deployment note live on
    // [[graft.streaming.StreamDedup]].
    "stream_dup_spans" -> ((s, dir) =>
      streamDupSpans(s, dir, evictSingletonsAfterMs = Some(3600L * 1000))),

    // STREAMING twin of llm_decontaminate_cut — the STATELESS streaming
    // class (vs the keyed-state twins above): the eval gram set is a
    // bounded batch-side broadcast, and the cut is row-local (a doc's
    // spans depend only on its own tokens), so each micro-batch is
    // embarrassingly parallel — no state store, no shuffle, the plan a
    // continuous-ingestion decontaminator actually wants. Tokenization
    // stays the SPARK column (Dedup.tokens) so the rule cannot drift
    // from batch; the typed map covers only match/merge/rebuild (pure,
    // position-set union == merged-island coverage). Gram match is on
    // window STRINGS (in-JVM set, no digests → no collision caveat).
    "stream_decontaminate_cut" -> ((s, dir) => {
      val ss = s.newSession()
      import ss.implicits._
      val n = 5
      // bounded by construction (an eval/benchmark set): collect + broadcast
      val evalTok = t(ss, dir, "documents").filter(col("doc_id") % 10 === 0)
        .select(Dedup.tokens(substring_index(col("text"), " ", 20)).as("_t"))
        .filter(size(col("_t")) >= n)
        .select(explode(transform(sequence(lit(0), size(col("_t")) - n),
          i => array_join(slice(col("_t"), i + 1, lit(n)), " "))).as("g"))
        .distinct().as[String].collect().toSet
      val grams = ss.sparkContext.broadcast(evalTok)
      val cutDone = Run.readSplits(ss, documentsSplitDir(s, dir))
        .select(col("doc_id"), Dedup.tokens(col("text")).as("_t"))
        .as[(Long, Seq[String])]
        .map { case (id, toks) =>
          if (toks.length < n) (id, toks.mkString(" "), 0L)
          else {
            val hits = (0 to toks.length - n)
              .filter(i => grams.value.contains(toks.slice(i, i + n).mkString(" ")))
            if (hits.isEmpty) (id, toks.mkString(" "), 0L)
            else {
              val cut = new Array[Boolean](toks.length)
              hits.foreach(i => (i until i + n).foreach(j => cut(j) = true))
              val surv = toks.indices.collect { case j if !cut(j) => toks(j) }
              (id, surv.mkString(" "), (toks.length - surv.length).toLong)
            }
          }
        }
        .toDF("doc_id", "clean_text", "n_cut")
      ss.table(Run.run("stream_decontaminate_cut", cutDone, Run.Sink.Memory()).name)
    }),

    // STREAMING twin of llm_embed_decontaminate — the deployment shape
    // of semantic eval-set protection (score a continuously-ingested
    // corpus against a FROZEN benchmark): foreachBatch over the shared
    // embedDeconWith body (the stream_lm_score convention — the per-
    // vector argmax groups within one micro-batch, and every vector
    // arrives in exactly one batch, so the union of per-batch results
    // IS the batch result). No state store; the eval set is a bounded
    // broadcast rebuilt per session from the cached collected rows.
    // Shares llm_embed_decontaminate's FULL DuckDB oracle verbatim plus
    // a batch==stream equality spec — completing the batch+stream pair
    // for BOTH decontamination granularities (n-gram and semantic).
    "stream_embed_decontaminate" -> ((s, dir) => {
      val ss = s.newSession()
      val evalSet = embEvalSet(ss, dir)
      val outDir = TempDir("sed_out")
      Run.run("stream_embed_decontaminate", Run.readSplits(ss, embDeconSplitDir(s, dir)),
        Run.Sink.Batches { (batch, _) =>
          embedDeconWith(batch, evalSet).write.mode("append").parquet(outDir.toString)
        })
      ss.read.parquet(outDir.toString)
    }),

    // STREAMING twin of llm_bpe_encode — the tokenizer's DEPLOYMENT
    // shape (a tokenizer trains once and then tokenizes forever): the
    // frozen merge table rides the task closure exactly as in batch and
    // encoding is row-local (per-partition word cache, no state store,
    // no shuffle), so this is the STATELESS streaming class and the
    // micro-batch output is bit-identical to the batch pass over the
    // same rows — the gate shares llm_bpe_encode's FULL DuckDB oracle
    // verbatim (same 30-CTE replay, not a rows-only check), plus a
    // batch==stream equality spec. encodeDocs itself is reused on the
    // streaming DataFrame: a stateless mapPartitions is plan-legal in
    // Structured Streaming, which is precisely why this operator needs
    // no streaming-specific code.
    "stream_bpe_encode" -> ((s, dir) => {
      val ss = s.newSession()
      val merges = bpeMergeTable(s, dir) // frozen: trained once, cached per dir
      val docs = Run.readSplits(ss, documentsSplitDir(s, dir))
      val enc = graft.ml.Bpe.encodeDocs(docs, "doc_id", "text", merges)
        .select(col("doc_id"), array_join(col("bpe"), " ").as("bpe_text"),
          size(col("bpe")).cast(LongType).as("n_bpe"))
      ss.table(Run.run("stream_bpe_encode", enc, Run.Sink.Memory()).name)
    }),

    // GPT-2-mode streaming twin (stream_bpe_encode's shape with the
    // production pre-tokenizer): still the STATELESS class — the scanner
    // and merge table are row-local — so it shares llm_bpe_encode_gpt2's
    // FULL oracle verbatim.
    "stream_bpe_encode_gpt2" -> ((s, dir) => {
      val ss = s.newSession()
      val merges = bpeMergeTableGpt2(s, dir) // frozen: trained once, cached per dir
      val docs = Run.readSplits(ss, documentsSplitDir(s, dir))
      val enc = graft.ml.Bpe.encodeDocs(docs, "doc_id", "text", merges, gpt2 = true)
        .select(col("doc_id"), array_join(col("bpe"), " ").as("bpe_text"),
          size(col("bpe")).cast(LongType).as("n_bpe"))
      ss.table(Run.run("stream_bpe_encode_gpt2", enc, Run.Sink.Memory()).name)
    }),

    // STREAMING twin of llm_lm_score — the deployment shape: score a
    // document stream against a FROZEN language model trained on the
    // static corpus (CCNet's actual topology — the LM is trained once,
    // the corpus streams past it). The model is the batch operator's
    // LmModel verbatim (bounded checkpointed count tables), and each
    // micro-batch is scored by the SAME lmScoreWith column pipeline via
    // foreachBatch — no reimplemented hash or tokenizer to drift, no
    // state store (a doc's score depends only on its own bigrams + the
    // frozen model), per-doc aggregation complete within the batch
    // because a document arrives whole in one row. Shares the batch
    // oracle verbatim.
    "stream_lm_score" -> ((s, dir) => {
      val ss = s.newSession()
      // the frozen model is a STATIC artifact of the training corpus —
      // cached across invocations as collected bounded tables (≤10k rows
      // each by construction; the documentsSplitDir fixture-cache
      // convention), rebuilt as tiny local DataFrames per session so the
      // bench's blocking-unpersist sweep between runs cannot kill them.
      // The steady state a deployment measures is scoring, not training.
      val (uni, bi, uTot) = lmModelCache.computeIfAbsent(dir, { _ =>
        val m = TextAnalysis.lmModelHashed(t(ss, dir, "documents"), "text")
        (m.uniBf.collect().map(r => (r.getLong(0), r.getLong(1))),
          m.biBf.collect().map(r => (r.getLong(0), r.getLong(1))), m.uTot)
      })
      val model = {
        import ss.implicits._
        TextAnalysis.LmModel(uni.toSeq.toDF("_b", "_uc"),
          bi.toSeq.toDF("_b", "_bc"), uTot, 10000)
      }
      val outDir = TempDir("slm_out")
      Run.run("stream_lm_score", Run.readSplits(ss, documentsSplitDir(s, dir)),
        Run.Sink.Batches { (batch, _) =>
          TextAnalysis.lmScoreWith(model, batch, "doc_id", "text")
            .select(col("doc_id"), round(col("lm_score"), 6).as("lm_score"),
              col("n_bigrams"))
            .write.mode("append").parquet(outDir.toString)
        })
      ss.read.parquet(outDir.toString)
    }),

    // FULL-ORACLE gates for the banded-pairing CORE (r15 verdict #1):
    // every rows-only perceptual/ANN gate shares hammingBandedPairs, and
    // they are rows-only ONLY because byte decode is not SQL-expressible
    // — the banding, bucket cap, Hamming verify and pair dedup all ARE
    // (DuckDB: range-explode, HAVING count, xor + bit_count, DISTINCT).
    // bandSigParts derives fingerprints from md5 hex so both engines
    // compute them identically; the oracle replays the ENTIRE pipeline.
    // Radius 3 (4x16-bit blocks, inert cap): exactly the planted h<=3
    // twins — 444 pairs at the gate SF, zero false pairs.
    "llm_band_pairs" -> ((s, dir) => {
      val (base, twins) = bandSigParts(s, dir)
      Dedup.hammingBandedPairs(base.unionByName(twins), "id", "fp", maxHamming = 3)
        .withColumn("hamming", col("hamming").cast(LongType))
    }),

    // Radius 7 (8x8-bit blocks) with maxBucketSize = 32, which BINDS at
    // the gate SF: the fixture's 60-bit fingerprints leave the high
    // 8-bit band a 16-key space (~n/16-member degenerate buckets), so
    // the cap drops real buckets (2 planted pairs at sf0.01) and the
    // oracle replays the retroactive cap via HAVING count(*) <= 32 —
    // the one branch of the batch machinery llm_band_pairs leaves cold.
    "llm_band_pairs_r7" -> ((s, dir) => {
      val (base, twins) = bandSigParts(s, dir)
      Dedup.hammingBandedPairs(base.unionByName(twins), "id", "fp",
        maxHamming = 7, maxBucketSize = 32)
        .withColumn("hamming", col("hamming").cast(LongType))
    }),

    // STREAMING twin over the same fixture — puts StreamPhash's
    // cross-batch bucket state + min-matching-block exactly-once
    // emission under a FULL DuckDB oracle too (the perceptual streaming
    // twins could only pin hashes): emission is symmetric so the emitted
    // SET is arrival-order independent, and with the default (inert at
    // gate SF) prospective cap it equals the batch cap-1000 replay.
    "stream_band_pairs" -> ((s, dir) =>
      streamFingerprintPairs(s, bandSplitDir(s, dir),
        (df, _, _) => df.select(col("media_id"), col("data").as("bandfp")),
        "bandfp", evictBucketAfterMs = None)
        .withColumn("hamming", col("hamming").cast(LongType))),

    // exact n-gram Jaccard between consecutive docs (verification primitive)
    "llm_ngram_jaccard" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val a = d.select(col("doc_id").as("id_a"),
        array_distinct(Dedup.shingles(col("text"), 3)).as("sh_a"))
      val b = d.select(col("doc_id").as("id_b"),
        array_distinct(Dedup.shingles(col("text"), 3)).as("sh_b"))
      a.join(b, col("id_b") === col("id_a") + 1)
        .select(col("id_a"), col("id_b"),
          round(size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType) /
            size(array_union(col("sh_a"), col("sh_b"))).cast(DoubleType), 6).as("jaccard"))
    }),

    // MinHash+LSH near-dup pairs over the planted corpus (probabilistic → rows-only;
    // recall/precision asserted in DedupSpec against exact Jaccard)
    "llm_minhash_pairs" -> ((s, dir) =>
      // fanout BEFORE the signature stage: the minhash UDF is the heavy
      // per-row work and materializes via localCheckpoint from the (one
      // split) scan stage — without this it runs on a single core.
      Dedup.minhashLshPairs(plantedCorpus(s, dir).repartition(Tables.fanout(s)), "doc_id", "text",
          threshold = 0.4, bands = 32, rowsPerBand = 4)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))),

    // SimHash near-dup pairs (rows-only; 8x8-bit blocking guarantees recall
    // for Hamming <= 7 by pigeonhole — radius and blocks must agree)
    "llm_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(plantedCorpus(s, dir), "doc_id", "text", maxHamming = 7)),

    // The md5-keyed MINHASH-LSH gate (r16, llm_simhash_pairs_md5's
    // sibling): the production minhash is rows-only because its shingle
    // base is xxhash64 — but the minhash KERNEL (universal-hash
    // min-fold, a_j/b_j from the seeded family), the band-bucket join,
    // the bucket cap and the exact-Jaccard verify are all replayable
    // once the shingle/band hashes ride the md5 60-bit convention. The
    // oracle embeds the (a_j, b_j) constants from Dedup.hashParams
    // ITSELF (the nlp convention: model constants in the SQL), so the
    // hash family cannot drift from the replay. Reduced family
    // (8 bands x 2 rows = 16 hashes) keeps the DuckDB side linear.
    "llm_minhash_pairs_md5" -> ((s, dir) => {
      val n = 3; val bands = 8; val rpb = 2; val thr = 0.4
      val mdLong = (c: Column) => TextAnalysis.md5Long60(c)
      val th = transform(Dedup.tokens(col("text")), t => mdLong(t))
      val m = size(th) - (n - 1)
      val windows = (1 to n).map(k => slice(th, lit(k), greatest(m, lit(0))))
      val combined = windows.reduce((a, b) => zip_with(a, b,
        (x, y) => mdLong(concat(x.cast(StringType), lit(","), y.cast(StringType)))))
      val sh = array_distinct(when(size(th) < n,
          array(mdLong(array_join(transform(th, _.cast(StringType)), ","))))
        .otherwise(combined))
      val withSig = Checkpoint.lazily(plantedCorpus(s, dir).repartition(Tables.fanout(s))
        .select(col("doc_id").as("_id"), sh.as("_sh"))
        .withColumn("_sig", Dedup.minhashSigUdf(bands * rpb, 42L)(col("_sh"))))
      val banded = withSig.select(col("_id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          i => mdLong(array_join(transform(
            slice(col("_sig"), i * rpb + 1, lit(rpb)), _.cast(StringType)), ","))))
          .as(Seq("_band", "_bkey")))
      val candidates = Dedup.boundedBucketPairs(banded, "_id", Seq("_band", "_bkey"), 1000)
      candidates
        .join(withSig.select(col("_id").as("id_a"), col("_sh").as("_sh_a")), "id_a")
        .join(withSig.select(col("_id").as("id_b"), col("_sh").as("_sh_b")), "id_b")
        .withColumn("_j",
          size(array_intersect(col("_sh_a"), col("_sh_b"))).cast("double") /
            size(array_union(col("_sh_a"), col("_sh_b"))).cast("double"))
        .filter(col("_j") >= thr)
        .select(col("id_a"), col("id_b"), round(col("_j"), 6).as("jaccard"))
    }),

    // The md5-keyed SIMHASH gate (r16): llm_simhash_pairs is rows-only
    // solely because its token hash is xxhash64 (absent from DuckDB);
    // keying the SAME vote kernel + banding machinery with the md5
    // 60-bit convention puts the simhash KERNEL itself under a FULL
    // oracle over the real planted corpus — the one piece of the
    // text-side near-dup family the band-pairs fixture doesn't reach
    // (the fixture's fingerprints are arithmetic; these are sign-sum
    // votes over per-occurrence token hashes).
    "llm_simhash_pairs_md5" -> ((s, dir) => {
      val sigs = plantedCorpus(s, dir).repartition(Tables.fanout(s))
        .select(col("doc_id").as("id"),
          Dedup.simhashUdf(transform(Dedup.tokens(col("text")),
            t => TextAnalysis.md5Long60(t))).as("fp"))
      Dedup.hammingBandedPairs(sigs, "id", "fp", maxHamming = 7)
        .withColumn("hamming", col("hamming").cast(LongType))
    }),

    // PERCEPTUAL image near-dup pairs — the dedup granularity for the
    // multimodal column (re-encoded/brightness-shifted copies of the
    // same image that byte-level dedup cannot see): 64-bit dHash over
    // the real BMP decode (luma → 9×8 box grid → neighbor-comparison
    // bits), then the SAME Hamming-banded, never-all-pairs candidate
    // machinery as simhash (8×8-bit pigeonhole blocking, recall
    // GUARANTEED at radius 7, degenerate buckets capped). Planted
    // positives: per doc a pseudo-random 16×16 image and a +3
    // brightness-shifted twin (media_id + twinOffset) — the canonical
    // re-render dHash absorbs (monotone shifts preserve comparisons).
    // Deterministic → exact hash pinned in MlSpec next to the planted
    // precision/recall spec; rows-only for the driver (byte-level BMP
    // decode is not SQL-expressible).
    "llm_phash_pairs" -> ((s, dir) => phashPairs(s, dir, maxHamming = 7)),

    // Perceptual dedup RESOLUTION — the step that actually DROPS the
    // duplicate images the pair generator finds: dHash pairs →
    // connected components (shared Dedup.connectedComponents — the same
    // path-doubling machinery as llm_dedup_resolve) → min-id canonical
    // per cluster. Composes two individually-gated pieces; this row
    // gates the composition on the media ids. Deterministic → pinned
    // hash + planted spec (every twin cluster keeps exactly its
    // original); rows-only for the driver (the BMP decode upstream is
    // not SQL-expressible).
    "llm_phash_resolve" -> ((s, dir) => {
      val off = twinOffset(s, dir)
      val pairs = phashPairs(s, dir, maxHamming = 7).select("id_a", "id_b")
      val nodes = t(s, dir, "documents").select(col("doc_id").as("node"))
        .unionByName(t(s, dir, "documents").select((col("doc_id") + off).as("node")))
      Dedup.connectedComponents(nodes, pairs)
        .select(col("node").as("media_id"), col("label").as("cluster_id"),
          when(col("node") === col("label"), 1L).otherwise(0L).as("keep"))
    }),

    // PERCEPTUAL audio near-dup pairs — the AUDIO-modality sibling of
    // llm_phash_pairs: 64-bit energy-difference hash over the real
    // 16-bit-PCM WAV decode (65 frame energies → 64 adjacent-frame
    // comparison bits — invariant under uniform gain, the audio analog
    // of dHash's brightness invariance), pairs via the SAME
    // hammingBandedPairs machinery (and the same block-width/radius
    // scale knob; a streaming twin would be StreamPhash verbatim — the
    // fingerprint is opaque to the pairing machinery). Planted twins:
    // per doc a pseudo-random 2048-sample clip and an 80%-gain copy
    // (media_id + twinOffset). Deterministic → pinned hash + planted
    // recall/precision spec; rows-only for the driver.
    "llm_audiohash_pairs" -> ((s, dir) => {
      val off = twinOffset(s, dir)
      val mk = udf((k: Long) => Multimodal.syntheticWav(k))
      val mkTwin = udf((k: Long) => Multimodal.syntheticWav(k, gainPct = 80))
      val ids = t(s, dir, "documents").select("doc_id")
        .repartition(Tables.fanout(s)) // distribute the per-row synth+decode+hash
      val media = ids.select(col("doc_id").as("media_id"), mk(col("doc_id")).as("data"))
        .unionByName(ids.select((col("doc_id") + off).as("media_id"),
          mkTwin(col("doc_id")).as("data")))
      Dedup.hammingBandedPairs(Multimodal.ahashWav(media, "media_id", "data"),
        "media_id", "ahash", maxHamming = 7)
    }),

    // STREAMING twin of llm_phash_pairs — continuous-ingestion perceptual
    // dedup: decode + dHash are row-local per micro-batch (the same fused
    // UDF as batch), prints explode into their 8 pigeonhole block keys,
    // and cross-batch keyed state per (block, key) bucket emits a pair
    // the moment the SECOND member arrives. Exactly-once emission via the
    // min-matching-block rule (computed locally from the two signatures —
    // no chained stateful dedup; StreamPhash scaladoc). Unlike
    // stream_semdedup, the emitted pair SET is arrival-order independent,
    // so the fixture needs no ordering and the gate shares
    // llm_phash_pairs' pinned hash verbatim. Eviction-capable path with a
    // 1 h bucket horizon (never reached in the run == NoTimeout, the
    // stream_dup_spans convention).
    "stream_phash_pairs" -> ((s, dir) =>
      streamFingerprintPairs(s, phashSplitDir(s, dir),
        Multimodal.dhashBmp, "dhash", evictBucketAfterMs = Some(3600L * 1000))),

    // STREAMING dedup RESOLUTION — closes the last open topology cell
    // (pairs streamed; resolution was batch-only): the dHash pair stream
    // folds through an incremental union-find (foreachBatch island-merge
    // into a compact node→label state table, see streamPhashResolve).
    // Min-label CC is confluent under incremental folding, so the output
    // IS llm_phash_resolve's — shared pinned hash verbatim plus a
    // batch==stream equality spec; rows-only for the driver (the BMP
    // decode upstream is not SQL-expressible).
    "stream_phash_resolve" -> ((s, dir) => streamPhashResolve(s, dir)),

    // STREAMING twin of llm_audiohash_pairs — completes the modality ×
    // topology matrix for perceptual pairs: the gain-invariant 64-bit
    // energy hash rides the SAME bucket-keyed state machinery as
    // stream_phash_pairs (StreamPhash is fingerprint-agnostic; shared
    // streamFingerprintPairs body), so the gate shares
    // llm_audiohash_pairs' pinned hash verbatim (pair emission is
    // arrival-order independent) plus a batch==stream equality spec.
    // Eviction-capable path, 1 h never-reached horizon (the
    // stream_dup_spans convention).
    "stream_audiohash_pairs" -> ((s, dir) =>
      streamFingerprintPairs(s, wavSplitDir(s, dir),
        Multimodal.ahashWav, "ahash", evictBucketAfterMs = Some(3600L * 1000))),

    // STREAMING twin of llm_vhash_pairs — closes the modality × topology
    // matrix (image/audio/video × batch/stream): the temporal video hash
    // rides the same fingerprint-agnostic bucket state. Shares
    // llm_vhash_pairs' pinned hash verbatim + equality spec.
    "stream_vhash_pairs" -> ((s, dir) =>
      streamFingerprintPairs(s, aviSplitDir(s, dir),
        Multimodal.vhashAvi, "vhash", evictBucketAfterMs = Some(3600L * 1000))),

    // The SCALE form of llm_phash_pairs (r14 verdict #3): radius 3 →
    // 16-bit blocks → 65536 buckets per block, the block width a ≥1M-
    // image corpus needs to stay under the bucket cap (the multi-index-
    // hashing trade measured by PhashProbe: recall 1.0, flattest heavy
    // curve in the corpus). Gating it pins the scale form's SEMANTICS —
    // same planted twins (brightness shifts keep dHash within radius 3),
    // its own pinned hash + planted spec, not just the probe's wall.
    "llm_phash_pairs_r3" -> ((s, dir) => phashPairs(s, dir, maxHamming = 3)),

    // TEMPORAL video near-dup pairs — the last multimodal dedup form
    // (image dHash64 / audio aHash64 / video THIS): per-frame decode via
    // the real RIFF/AVI container walk, per-frame mean luma folded onto
    // a 65-slot time grid, one bit per adjacent-slot comparison
    // (dHash's rule applied along time — Multimodal.vHash64 scaladoc
    // has the invariance arguments: brightness monotone, resolution
    // washes out in the mean, frame-rate re-encodes box-average to
    // identical slots). Decode+hash fused row-local, pairs via the same
    // hammingBandedPairs. Planted twins: per doc a 130-frame 8×8
    // pseudo-random AVI and a +3-brightness re-render (media_id +
    // twinOffset). Deterministic → pinned hash + planted spec + kernel
    // invariance specs; rows-only for the driver (the container decode
    // is not SQL-expressible).
    "llm_vhash_pairs" -> ((s, dir) => {
      val off = twinOffset(s, dir)
      val mk = udf((k: Long) => Multimodal.syntheticVideoAvi(k))
      val mkTwin = udf((k: Long) => Multimodal.syntheticVideoAvi(k, brighten = 3))
      val ids = t(s, dir, "documents").select("doc_id")
        .repartition(Tables.fanout(s)) // distribute the per-row synth+decode+hash
      val media = ids.select(col("doc_id").as("media_id"), mk(col("doc_id")).as("data"))
        .unionByName(ids.select((col("doc_id") + off).as("media_id"),
          mkTwin(col("doc_id")).as("data")))
      Dedup.hammingBandedPairs(Multimodal.vhashAvi(media, "media_id", "data"),
        "media_id", "vhash", maxHamming = 7)
    }),

    // embedding near-dup pairs via hyperplane LSH. The driver embeddings are
    // near-random (max pairwise cosine ≈0.5), so plant perturbed duplicates
    // (vec_id+100000, first component nudged) as known positives — same
    // pattern as plantedCorpus for text.
    "llm_embed_pairs" -> ((s, dir) =>
      Dedup.embeddingPairs(plantedEmb(s, dir), "vec_id", "embedding", 64,
          threshold = 0.95)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))),

    // SemDeDup semantic dedup (Abbas et al. 2023): k-means cells via the
    // IVF machinery (sampled training, trainMod=2 — the 100 TB shape),
    // within-cell ≥0.95-cosine pairs drop their centroid-farther side.
    // Same planted perturbed twins as llm_embed_pairs (each twin pair is
    // a known within-cell near-dup → exactly one survivor). k-means →
    // rows-only gate; exact result pinned by hash in MlSpec next to the
    // ANN rows, semantics gated on planted paraphrase clusters there too.
    // Consumes the SAME cached frozen centroids as stream_semdedup (not a
    // second training run) so the shared pinned hash cannot flake on a
    // ULP divergence between two k-means avg() reductions (r14 advice).
    "llm_semdedup" -> ((s, dir) =>
      Similarity.semDedup(plantedEmb(s, dir), "vec_id", "embedding", 64,
          nCells = 16, threshold = 0.95, iters = 4, trainMod = 2,
          centroids = Some(semCentroids(s, dir)))
        .select(col("vec_id"), col("cell"),
          round(col("centroid_cos"), 6).as("centroid_cos"), col("keep"))),

    // QUANTIZED k-means sibling (r16 verdict #4): every arithmetic step
    // in 64-bit integers (floor-quantized components, integer argmin
    // assignment, floor-div centroid means, integer-dot priority, integer
    // squared-L2 verify), so the WHOLE train→assign→pair→keep chain
    // replays in DuckDB bit-exactly — the cell-assign and within-cell
    // pair machinery the float gates can only pin is here under a FULL
    // oracle. Threshold 4e9 micro-units² sits 4.7× above the planted
    // twins' max (8.5e8) and 250× below the nearest natural pair
    // (1.07e12) — measured on the gate corpus. 499/500 twins dedup to
    // one survivor; vec 306's twin straddles a cell boundary (cell 9 vs
    // 15) — the inherent recall property of cell-bucketed semdedup,
    // identical in the float gate, replayed exactly by the oracle.
    "llm_semdedup_q" -> ((s, dir) =>
      Similarity.semDedupQ(plantedEmb(s, dir), "vec_id", "embedding", 64,
          nCells = 16, threshold = 4000000000L, iters = 4, trainMod = 2,
          centroids = Some(semCentroidsQ(s, dir)))
        .select(col("vec_id"), col("cell"), col("priority"), col("keep"))),

    // 64-CELL quantized SemDeDup — AT semDedupQ's hierAssignThreshold,
    // so cell assignment takes the TWO-LEVEL coarse-then-fine probe
    // (assignCellHierQ): the path production cell counts actually run,
    // previously covered only by a ≥95%-flat-agreement spec (r17
    // verdict, What's missing #1). The oracle replays the hier probe's
    // integer arithmetic exactly (oQHierFin: coarse Lloyd's over the
    // fine centroids, top-2 group probe, within-group argmin, flat
    // fallback), and MlSpec asserts hier ≠ flat on this corpus at both
    // gate SFs — a green hash is therefore engine-level proof the hier
    // branch ran and computed the published rule, not the flat scan.
    "llm_semdedup_hq" -> ((s, dir) =>
      Similarity.semDedupQ(plantedEmb(s, dir), "vec_id", "embedding", 64,
          nCells = 64, threshold = 4000000000L, iters = 4, trainMod = 2,
          centroids = Some(semCentroidsHQ(s, dir)))
        .select(col("vec_id"), col("cell"), col("priority"), col("keep"))),

    // STREAMING twin of llm_semdedup_q — the first streaming SEMANTIC
    // dedup gate under a FULL oracle (the float stream_semdedup shares a
    // pinned hash; integer arithmetic lets this one share the DuckDB
    // replay verbatim). Same frozen quantized centroids, vectors
    // arriving in integer batch-priority order (embSplitDirQ), greedy
    // first-seen keep == the batch loser rule.
    "stream_semdedup_q" -> ((s, dir) =>
      streamSemDedupQRun(s, semCentroidsQ(s, dir), embSplitDirQ(s, dir),
        stateWidth = 8, name = "stream_semdedup_q")),

    // STREAMING twin of llm_semdedup_hq — semantic dedup in the deploy
    // topology ON the production assignment path: the frozen 64-cell
    // model, each arriving vector assigned ROW-LOCALLY by the TWO-LEVEL
    // probe (assignCellHierQ — the hier UDF rides the closure exactly
    // like the flat one), keep/drop via the same keyed cell state.
    // Shares llm_semdedup_hq's FULL oracle (priority-ordered arrival,
    // embSplitDirHQ) — streaming semantic dedup at production cell
    // counts under an engine-level check.
    "stream_semdedup_hq" -> ((s, dir) =>
      streamSemDedupQRun(s, semCentroidsHQ(s, dir), embSplitDirHQ(s, dir),
        stateWidth = 32, name = "stream_semdedup_hq")),

    // STREAMING twin of llm_semdedup — the deployment topology semantic
    // dedup actually runs (the stream_lm_score pattern applied to the
    // SemDeDup family): k-means cells trained ONCE on the static corpus
    // (frozen centroids, kilobytes, cached per dir), each arriving
    // vector assigned its cell ROW-LOCALLY, keep/drop via cross-batch
    // keyed state per cell (greedy first-seen ≥τ rule — equal to the
    // batch loser rule because the fixture streams in batch-priority
    // order; StreamSemDedup scaladoc has the proof sketch). The gate
    // runs the eviction-CAPABLE path with a 1-hour cold-cell horizon —
    // never reached in the run, provably identical to NoTimeout (the
    // stream_dup_spans convention) — and shares llm_semdedup's pinned
    // exact-result hash in MlSpec, plus a batch==stream equality spec.
    "stream_semdedup" -> ((s, dir) =>
      streamSemDedupRun(s, dir, evictCellAfterMs = Some(3600L * 1000))),

    // brute-force cosine top-k (exact ANN baseline). Rank on the ROUNDED
    // cosine so the oracle's ordering decisions are bit-identical.
    "llm_cosine_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = broadcast(emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv")))
      val scored = emb.select(col("vec_id"), col("embedding")).crossJoin(q)
        .select(col("query_id"), col("vec_id"),
          round(Blob.cosineSimilarity(col("embedding"), col("qv")), 6).as("cosine"))
      val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
    }),

    // EMBEDDING-SPACE decontamination — the semantic complement of the
    // n-gram llm_decontaminate family (a paraphrased eval item shares no
    // 5-gram but sits next to its source in embedding space): flag every
    // training vector whose max cosine against the EVAL set reaches τ,
    // with the nearest eval id for audit. The eval set is planted with
    // SQL-expressible ground truth (every 10th corpus vector, first
    // component perturbed ×1.05+0.01 in DOUBLE — the llm_embed_pairs
    // twin rule, here replayed by the oracle too), so exactly the
    // perturbation sources must flag contaminated with their twin as
    // nearest. Eval sets are bounded by construction (a benchmark) →
    // broadcast; the per-train reduction is a partial-aggregable
    // max(struct(cos, -eval_id)) — map-side combine collapses the
    // |eval|-way fan-out BEFORE any exchange, so the only shuffle is
    // |train| one-row groups (the same bounded-side shape as
    // llm_decontaminate's gram broadcast). Argmax ties break on the
    // ROUNDED cosine then smallest eval id — bit-identical to the
    // oracle's row_number(ORDER BY c DESC, eid).
    "llm_embed_decontaminate" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      embedDeconWith(emb.repartition(Tables.fanout(s)), embEvalSet(s, dir))
    }),

    // LSH-bucketed ANN (scale path; recall vs brute force gated in SimilaritySpec)
    "llm_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
      Similarity.lshTopK(emb, "vec_id", "embedding", 64, q, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("vec_id"), round(col("cosine"), 6).as("cosine"), col("rank"))
    }),

    // IVF-bucketed ANN (the second scale path next to LSH: k-means
    // inverted lists + nProbe-cell candidate pruning; recall gated >= 0.9
    // on clustered fixtures in MlSpec like lshTopK). The gate exercises
    // the FULL 100 TB shape: hash-SAMPLED training (trainMod=2 — centroid
    // quality from a sample, never a full pass) and the materialized
    // cell-partitioned index, probed via partition-pruned scan (the
    // `_cell=` directories outside the probe list are never read —
    // PartitionFilters in PLANS.md).
    "llm_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
      val idx = ivfIndexDirF(s, dir) // built once per JVM, removed on exit
      Similarity.ivfTopKIndexed(s, idx, q, "vec_id", "embedding", k = 5, nProbe = 4)
        .select(col("query_id"), col("vec_id"), round(col("cosine"), 6).as("cosine"), col("rank"))
    }),

    // QUANTIZED IVF sibling (the llm_semdedup_q pattern applied to ANN):
    // integer centroids, integer-distance probe of the 4 nearest lists,
    // integer SQUARED-L2 scoring inside codegen, (dist2 ASC, vec_id)
    // ranking — nearest-neighbor in the same metric the cells partition
    // by. The assign→probe→score→rank machinery of the IVF family under
    // a FULL DuckDB oracle (the float form stays the production gate
    // with its pinned hash; this engine-checks the topology).
    "llm_ann_ivf_q" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").repartition(Tables.fanout(s))
      val q = emb.filter(col("vec_id") < 5)
      Similarity.ivfTopKQ(emb, "vec_id", "embedding", 64,
        q, "vec_id", "embedding", k = 5, nCells = 16, nProbe = 4,
        iters = 4, trainMod = 2)
    }),

    // 64-CELL quantized IVF — the llm_semdedup_hq pattern applied to
    // ANN: at ivfTopKQ's hierAssignThreshold the corpus cell TAGGING
    // takes the two-level probe, and the oracle replays it (the same
    // oQHierFin composed with the ANN tail). MlSpec asserts hier ≠
    // flat tagging on this corpus AND that the hq top-k differs from a
    // forced-flat run at gate SF — so the green hash engine-checks the
    // production assignment inside the retrieval path, not just inside
    // dedup.
    "llm_ann_ivf_hq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").repartition(Tables.fanout(s))
      val q = emb.filter(col("vec_id") < 5)
      Similarity.ivfTopKQ(emb, "vec_id", "embedding", 64,
        q, "vec_id", "embedding", k = 5, nCells = 64, nProbe = 4,
        iters = 4, trainMod = 2)
    }),

    // MATERIALIZED quantized IVF — the partition-pruned physical layout
    // (llm_ann_ivf's 100 TB shape) under a FULL oracle: the corpus is
    // written partitionBy its integer cell, the query probe list
    // resolves driver-side, and the scan reads ONLY the probed `_cell=`
    // directories (PartitionFilters — the MlSpec plan assertion).
    // Results are IDENTICAL to ivfTopKQ for the same (deterministic)
    // centroids, so the gate shares llm_ann_ivf_q's DuckDB replay —
    // the float llm_ann_ivf stays the production gate with its pinned
    // hash; this row engine-checks the pruned-read topology.
    "llm_ann_ivf_idx_q" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
      val idx = ivfIndexDirQ(s, dir, 16) // built once per JVM, removed on exit
      Similarity.ivfTopKIndexedQ(s, idx, q, "vec_id", "embedding", k = 5, nProbe = 4)
    }),

    // ... the READ-ONLY row over the same standing index: what a 100 TB
    // deployment pays per query batch on an ALREADY-built index —
    // probe-cell resolution from the sidecar, partition-pruned scan,
    // score, rank. Shares llm_ann_ivf_q's FULL oracle (identical rows
    // by construction); benchQueries orders it after llm_ann_ivf_idx_q
    // so the cache is provably warm and the timed work is pure read.
    "llm_ann_ivf_idx_read" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
      val idx = ivfIndexDirQ(s, dir, 16)
      Similarity.ivfTopKIndexedQ(s, idx, q, "vec_id", "embedding", k = 5, nProbe = 4)
    }),

    // ... and the same layout written with the TWO-LEVEL tagging at 64
    // cells (the hq seam) — the pruned read path exactly as a
    // production-cell-count deployment would materialize it, sharing
    // llm_ann_ivf_hq's oracle.
    "llm_ann_ivf_idx_hq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
      val idx = ivfIndexDirQ(s, dir, 64) // built once per JVM, removed on exit
      Similarity.ivfTopKIndexedQ(s, idx, q, "vec_id", "embedding", k = 5, nProbe = 4)
    }),

    // STREAM-BUILT materialized IVF index — the standing index kept
    // fresh by ingest: vectors stream in, are tagged row-locally by the
    // frozen (bit-deterministic, batch-equal) model, and the parquet
    // streaming sink appends them into the partitionBy(_cell) layout;
    // the pruned read then serves the SAME top-k as the batch-built
    // index, so the gate shares llm_ann_ivf_q's FULL oracle — the
    // ingest→index→serve loop engine-checked end to end.
    "stream_ann_ivf_idx" -> ((s, dir) => {
      val q = t(s, dir, "embeddings").filter(col("vec_id") < 5)
      Similarity.ivfTopKIndexedQ(s, streamIvfIndexDirQ(s, dir),
        q, "vec_id", "embedding", k = 5, nProbe = 4)
    }),

    // ... and the COMPACTION maintenance pass over that streamed index
    // (ivfCompactIndex: rewrite one-file-per-cell + sidecar copy) —
    // values untouched, so the same oracle pins it; MlSpec asserts the
    // compacted layout is actually 1 file/cell.
    "llm_ann_ivf_idx_compact" -> ((s, dir) => {
      val q = t(s, dir, "embeddings").filter(col("vec_id") < 5)
      Similarity.ivfTopKIndexedQ(s, compactIvfIndexDirQ(s, dir),
        q, "vec_id", "embedding", k = 5, nProbe = 4)
    }),

    // STREAMING SERVE against the standing index — the other half of
    // the ingest→index→serve loop: query batches arrive as a stream;
    // each micro-batch resolves its probe cells DRIVER-side and runs
    // the partition-pruned read (foreachBatch — the production
    // topology for periodic retrieval: per-batch pruning stays exactly
    // the batch read's, so results are the batch rows verbatim and the
    // gate shares llm_ann_ivf_q's FULL oracle). Queries are
    // independent rows — micro-batch boundaries cannot move a result.
    "stream_ann_serve" -> ((s, dir) => {
      val idx = streamIvfIndexDirQ(s, dir)
      val qs = t(s, dir, "embeddings").filter(col("vec_id") < 5)
        .select("vec_id", "embedding")
      val inDir = Run.writeSplitDir("sannserve_in", Seq(
        (qs.filter(col("vec_id") < 2), "0_q.parquet"),
        (qs.filter(col("vec_id") >= 2), "1_q.parquet")))
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
      // a few query rows per batch: nothing to spread
      Run.run("stream_ann_serve", Run.readSplits(s.newSession(), inDir, spread = false),
        Run.Sink.Batches { (batch, _) =>
          Similarity.ivfTopKIndexedQ(batch.sparkSession, idx, batch,
            "vec_id", "embedding", k = 5, nProbe = 4)
            .collect().foreach(buf.add)
        })
      val outSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("dist2", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("rank", org.apache.spark.sql.types.IntegerType)))
      s.createDataFrame(new java.util.ArrayList(buf), outSchema)
    }),

    // multimodal plumbing: binary payload + typed metadata → features
    "mm_features" -> ((s, dir) => {
      val media = Multimodal.syntheticMedia(s, dir)
      Multimodal.extractFeatures(media).toDF()
        .select("media_id", "modality", "n_bytes")
    }),

    // multimodal frame sampling (explode plumbing)
    "mm_frames" -> ((s, dir) =>
      Multimodal.frameSample(Multimodal.syntheticMedia(s, dir), n = 4)),

    // PII scrub (training-data pipeline extension): plant synthetic
    // emails/IPs/ids into the text, scrub, verify masks + count
    "llm_pii_scrub" -> ((s, dir) => {
      val planted = concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com from 10.0.0."),
        pmod(col("doc_id"), lit(256)), lit(" id 9988776655"), col("doc_id"))
      t(s, dir, "documents").select(
        col("doc_id"),
        graft.ml.TextAnalysis.piiScrub(planted).as("clean"))
    }),

    // repetition score (Gopher-style boilerplate signal): duplicated
    // 3-gram fraction per document
    "llm_repetition" -> ((s, dir) => t(s, dir, "documents").select(
      col("doc_id"),
      round(graft.ml.TextAnalysis.repetitionScore(col("text"), 3), 6).as("rep3"))),

    // paragraph-level exact dedup: synthesize 3-paragraph docs (first-12
    // words, a SHARED boilerplate footer, last-12 words) — the footer
    // survives only in the winning doc, natural chunk collisions dedup too
    "llm_paragraph_dedup" -> ((s, dir) => {
      val synth = t(s, dir, "documents").select(col("doc_id"), concat_ws("\n\n",
        substring_index(col("text"), " ", 12),
        lit("subscribe to our newsletter for updates"),
        substring_index(col("text"), " ", -12)).as("text"))
      TextAnalysis.paragraphDedup(synth, "doc_id", "text")
        .select(col("doc_id"), col("para_idx").cast(LongType).as("para_idx"), col("para"))
    }),

    // unigram log-prob quality signal (CCNet perplexity-proxy): mean
    // log10 P(token) under the corpus's own unigram distribution
    "llm_unigram_logprob" -> ((s, dir) => {
      val r = TextAnalysis.unigramLogProb(
        t(s, dir, "documents").repartition(Tables.fanout(s)), "doc_id", "text")
      r.select(col("doc_id"), round(col("avg_logprob"), 6).as("avg_logprob"), col("n_tokens"))
    }),

    // sequence packing: shard by key hash (one shuffle, per-shard window
    // sort — never a global orderBy), cumulative-token bucketing into
    // 512-token packs
    "llm_pack_sequences" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast(LongType).as("n_tokens"))
      // explicit modulus shard so the oracle can replay it (the library
      // default is pmod(xxhash64(key), shards), which DuckDB cannot)
      TextAnalysis.packSequences(d, "doc_id", "n_tokens", budget = 512, shards = 8,
          shardBy = Some(pmod(col("doc_id"), lit(8L))))
        .select("doc_id", "shard", "pack_id", "n_tokens")
    }),

    // deterministic data mixing: per-language keep rates via a hashed
    // coin (md5-keyed, salt 'graft') — reproducible across runs/engines
    "llm_sample_mix" -> ((s, dir) =>
      TextAnalysis.stratifiedSample(t(s, dir, "documents"), "doc_id", "lang",
          Map("en" -> 0.5, "de" -> 0.25, "fr" -> 1.0), defaultRate = 0.1)
        .select("doc_id", "lang")),

    // Deterministic GLOBAL shuffle + training-shard assignment — the
    // last step of every training-data pipeline (the corpus must reach
    // the trainer in a reproducible pseudo-random order, sharded for
    // parallel readers): shard = md5-coin mod nShards, position within
    // the shard = coin order (doc_id tiebreak — coins can collide).
    // Shards are FEW and HUGE by construction (corpus/nShards rows
    // each), exactly the shape where Window.partitionBy(shard) funnels
    // a whole shard into one task — so the numbering is
    // Processors.scalableRowNumber (two-phase range-partitioned
    // row_number), the skew escape hatch in its intended production
    // role. md5 coin → DuckDB-replayable → full oracle; same-corpus
    // determinism is what makes a 100 TB run resumable (llm_sample_mix's
    // reproducible-coin rule).
    "llm_shard_shuffle" -> ((s, dir) => {
      val nShards = 8
      val keyed = t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.sampleCoin(col("doc_id"), "graftshard").as("_coin"))
        .withColumn("shard", pmod(col("_coin"), lit(nShards.toLong)))
      graft.operators.Processors.scalableRowNumber(keyed, col("shard"),
          Seq(col("_coin"), col("doc_id")), "pos_in_shard")
        .select(col("doc_id"), col("shard"), col("pos_in_shard"))
    }),

    // decontamination (GPT-3 13-gram shape, n=5 here): eval set = first-20-
    // word prefixes of every 10th doc (planted contamination, same pattern
    // as plantedCorpus) → flag train docs sharing any 5-gram, with counts
    "llm_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents").repartition(Tables.fanout(s)) // one-file input
      val evalSet = docs.filter(col("doc_id") % 10 === 0)
        .select(substring_index(col("text"), " ", 20).as("text"))
      Dedup.decontaminate(docs, evalSet, "doc_id", "text", n = 5)
    }),

    // DSIR-flavor data selection (Xie et al. 2023): importance weight =
    // mean log-ratio of a target-domain unigram model (every 7th doc as
    // the planted target sample) to the corpus model; the top-100 most
    // target-like docs survive. Rank on the ROUNDED ratio with a doc_id
    // tiebreak so the oracle's ordering decisions are bit-identical.
    "llm_dsir" -> ((s, dir) => {
      val docs = t(s, dir, "documents").repartition(Tables.fanout(s)) // one-file input
      val target = t(s, dir, "documents").filter(col("doc_id") % 7 === 0)
      TextAnalysis.dsirLogRatio(docs, target, "doc_id", "text")
        .select(col("doc_id"), round(col("dsir_logratio"), 6).as("dsir_logratio"),
          col("n_tokens"))
        .orderBy(col("dsir_logratio").desc, col("doc_id"))
        .limit(100)
    }),

    // Hashed bigram LM score — the perplexity-flavor quality filter
    // (CCNet buckets documents by KenLM perplexity; this is the
    // in-corpus, external-model-free analog): mean log10 of an
    // interpolated add-one-smoothed bigram probability, all count
    // tables bounded at 10k hashed buckets → broadcast joins, the
    // occurrence stream never shuffles on a token key. md5 bucketing
    // (sampleCoin convention) → full DuckDB oracle.
    "llm_lm_score" -> ((s, dir) => {
      val docs = t(s, dir, "documents").repartition(Tables.fanout(s)) // one-file input
      TextAnalysis.lmScoreHashed(docs, "doc_id", "text")
        .select(col("doc_id"), round(col("lm_score"), 6).as("lm_score"),
          col("n_bigrams"))
    }),

    // Hashed-feature DSIR (the paper's real feature space: unigrams +
    // bigrams hashed into 10k buckets) — the de-hot-keyed scale shape:
    // both frequency tables are bounded at `buckets` rows so the
    // per-occurrence join is a broadcast, never a skewed token shuffle.
    // md5-derived buckets make the hashing DuckDB-replayable → full
    // oracle. Same top-100 selection convention as llm_dsir.
    "llm_dsir_hashed" -> ((s, dir) => {
      val docs = t(s, dir, "documents").repartition(Tables.fanout(s)) // one-file input
      val target = t(s, dir, "documents").filter(col("doc_id") % 7 === 0)
      TextAnalysis.dsirLogRatioHashed(docs, target, "doc_id", "text", buckets = 10000)
        .select(col("doc_id"), round(col("dsir_logratio"), 6).as("dsir_logratio"),
          col("n_feats"))
        .orderBy(col("dsir_logratio").desc, col("doc_id"))
        .limit(100)
    }),

    // SPAN-LEVEL decontamination (the surgical variant of
    // llm_decontaminate): cut the eval-matching 5-gram spans out of the
    // training docs instead of dropping whole documents — doc-level
    // decontamination loses an entire document for one quoted benchmark
    // sentence. Same planted eval set as llm_decontaminate; fully
    // deterministic → complete DuckDB oracle (same window/island/rebuild
    // rule as llm_dup_cut, match against the eval gram set).
    "llm_decontaminate_cut" -> ((s, dir) => {
      val docs = t(s, dir, "documents").repartition(Tables.fanout(s)) // one-file input
      val evalSet = docs.filter(col("doc_id") % 10 === 0)
        .select(substring_index(col("text"), " ", 20).as("text"))
      Dedup.decontaminateCut(docs, evalSet, "doc_id", "text", n = 5)
    }),

    // Token-budget-aware quality REWEIGHTING — the soft-dedup step a real
    // pipeline runs between dedup and selection: instead of hard
    // drop/keep, each doc gets a sampling weight composed from its
    // duplicate multiplicity (exact-digest count — partial agg +
    // join-back, skew-safe), quality score, and DSIR target-affinity
    // (logistic-squashed), then a deterministic md5-coin keeps docs with
    // probability = weight (llm_sample_mix's reproducible-coin rule —
    // at 100 TB a rand() sample breaks resumability). The DSIR factor is
    // the HASHED feature space (dsirLogRatioHashed — both frequency
    // tables bounded at 10k rows → broadcast joins): the unigram
    // variant's raw-token vocabulary join is exactly the skewed,
    // vocabulary-growing shuffle this composition must not re-import at
    // 100 TB (round-13 verdict). Fully deterministic → complete DuckDB
    // oracle; non-vacuity (both kept and dropped rows, dup_cnt > 1
    // present, weights non-constant) pinned in MlSpec.
    "llm_weighted_mix" -> ((s, dir) => {
      val corpus = plantedCorpus(s, dir)
      val dupCnt = corpus
        .groupBy(md5(col("text").cast(BinaryType)).as("_d"))
        .agg(count(lit(1)).as("dup_cnt"))
      val target = t(s, dir, "documents").filter(col("doc_id") % 7 === 0)
      val dsir = TextAnalysis.dsirLogRatioHashed(
          corpus.repartition(Tables.fanout(s)), target, "doc_id", "text", buckets = 10000)
        .select(col("doc_id"), round(col("dsir_logratio"), 6).as("_r"))
      corpus
        .withColumn("_d", md5(col("text").cast(BinaryType)))
        .join(dupCnt, "_d")
        .withColumn("quality", TextAnalysis.qualityScore(col("text")))
        .join(dsir, "doc_id")
        .withColumn("weight", round((col("quality") / 4.0) / col("dup_cnt") *
          (lit(1.0) / (lit(1.0) + exp(-col("_r")))), 6))
        .select(col("doc_id"), col("dup_cnt"), col("weight"),
          when(TextAnalysis.sampleCoin(col("doc_id"), "graftmix") <
            (col("weight") * lit(4294967296.0)).cast(LongType), 1L).otherwise(0L)
            .as("kept"))
    }),

    // REAL bmp decode: synthesize deterministic 2x2 BMPs, decode them
    // executor-side, and let the oracle recompute dimensions + channel
    // means from the pixel formula — verifies the actual byte parser
    "mm_decode_bmp" -> ((s, dir) => {
      val mk = udf((k: Long) => Multimodal.syntheticBmp(k))
      val media = t(s, dir, "customer").select(
        col("c_custkey").cast(LongType).as("media_id"),
        lit("image").as("modality"),
        mk(col("c_custkey").cast(LongType)).as("data"))
      Multimodal.extractFeatures(media).toDF().select(
        col("media_id"),
        col("feature").getItem(0).cast(LongType).as("w"),
        col("feature").getItem(1).cast(LongType).as("h"),
        round(col("feature").getItem(2), 6).as("mean_b"),
        round(col("feature").getItem(3), 6).as("mean_g"),
        round(col("feature").getItem(4), 6).as("mean_r"))
    }),

    // REAL PNG decode via the JDK-bundled ImageIO reader (headless, no
    // native libs): lossless round-trip of the same pixel formula as
    // mm_decode_bmp, so the oracle arithmetic is identical
    "mm_decode_png" -> ((s, dir) => {
      val mk = udf((k: Long) => Multimodal.syntheticPng(k))
      val media = t(s, dir, "customer").select(
        col("c_custkey").cast(LongType).as("media_id"),
        lit("image").as("modality"),
        mk(col("c_custkey").cast(LongType)).as("data"))
      Multimodal.extractFeatures(media).toDF().select(
        col("media_id"),
        col("feature").getItem(0).cast(LongType).as("w"),
        col("feature").getItem(1).cast(LongType).as("h"),
        round(col("feature").getItem(2), 6).as("mean_b"),
        round(col("feature").getItem(3), 6).as("mean_g"),
        round(col("feature").getItem(4), 6).as("mean_r"))
    }),

    // REAL multi-frame extraction from animated GIFs (ImageIO reads every
    // stored frame; no native libs): synthesize a (2 + doc_id%3)-frame GIF
    // per document, decode, and hash per-frame channel means against the
    // pixel-formula oracle. The video stub now covers ONLY true video
    // containers (MP4/H.264-class).
    "mm_frames_gif" -> ((s, dir) => {
      val mk = udf((k: Long) => Multimodal.syntheticGif(k, (2 + k % 3).toInt))
      val media = t(s, dir, "documents").select(
        col("doc_id").cast(LongType).as("media_id"),
        mk(col("doc_id").cast(LongType)).as("data"))
      Multimodal.gifFrameStats(media).toDF().select(
        col("media_id"), col("frame_idx"),
        col("w").cast(LongType).as("w"), col("h").cast(LongType).as("h"),
        round(col("mean_b"), 6).as("mean_b"),
        round(col("mean_g"), 6).as("mean_g"),
        round(col("mean_r"), 6).as("mean_r"))
    }),

    // REAL video-container frame extraction: RIFF/AVI walked from scratch,
    // uncompressed-DIB frames decoded from the spec (functions/Avi.scala;
    // MJPEG rides ImageIO, spec-gated in AviSpec). Same per-frame pixel
    // formula as mm_frames_gif, so the oracle arithmetic is shared.
    "mm_frames_avi" -> ((s, dir) => {
      val mk = udf((k: Long) => Multimodal.syntheticAvi(k, (2 + k % 3).toInt))
      val media = t(s, dir, "documents").select(
        col("doc_id").cast(LongType).as("media_id"),
        mk(col("doc_id").cast(LongType)).as("data"))
      Multimodal.aviFrameStats(media).toDF().select(
        col("media_id"), col("frame_idx"),
        col("w").cast(LongType).as("w"), col("h").cast(LongType).as("h"),
        round(col("mean_b"), 6).as("mean_b"),
        round(col("mean_g"), 6).as("mean_g"),
        round(col("mean_r"), 6).as("mean_r"))
    })
  )

  // Tokenization used in oracles — MUST stay in sync with Dedup.tokens:
  // lower → split on non-(letter|digit) → drop empties.
  private val oTok = "list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}]+'), x -> x <> '')"

  /** GPT-2 pre-tokens in RE2 (the Bpe.pretokensGpt2 rule): the published
    * pattern minus its two whitespace branches (`\s+(?!\S)|\s+` need a
    * lookahead RE2 lacks) — on the driver corpus they are unreachable
    * (single ASCII spaces between letter runs are always consumed by
    * ` ?\p{L}+`; BpeSpec asserts that corpus precondition at both gate
    * SFs and pins the whitespace-branch fixtures the oracle can't see).
    * '' doubles the quote inside the SQL literal; matches partition the
    * text, so positions/concatenation replay exactly. */
  private val oGpt2Tok =
    """regexp_extract_all(text, '''s|''t|''re|''ve|''m|''ll|''d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+')"""

  // shared oracle fragments — hoisted so the composed llm_corpus_select
  // oracle provably checks the SAME rule as the component oracles
  private val oGram5 = s"""CASE WHEN len($oTok) < 5 THEN [array_to_string($oTok, ' ')]
             ELSE list_transform(generate_series(0, len($oTok) - 5),
               i -> concat_ws(' ', ($oTok)[i+1], ($oTok)[i+2], ($oTok)[i+3], ($oTok)[i+4], ($oTok)[i+5])) END"""
  private val oEvalPrefix =
    """SELECT CASE WHEN len(string_split(text, ' ')) <= 20 THEN text
                  ELSE array_to_string(string_split(text, ' ')[1:20], ' ') END AS text
           FROM documents WHERE doc_id % 10 = 0"""
  private val oNTok = """CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(string_split_regex(trim(text), '\s+')) END"""
  private val oQuality = s"""((CASE WHEN length(text) BETWEEN 50 AND 20000 THEN 0.25 ELSE 0.0 END)
              + (CASE WHEN (CASE WHEN length(text) = 0 THEN 0.0 ELSE length(regexp_replace(text, '[^[:punct:]]', '', 'g'))::DOUBLE / length(text) END) < 0.2 THEN 0.25 ELSE 0.0 END)
              + (CASE WHEN (CASE WHEN len($oTok) = 0 THEN 0.0 ELSE len(list_filter($oTok, x -> x IN ('the','a','of','and','to','in','is','that','it','for')))::DOUBLE / len($oTok) END) > 0.05 THEN 0.25 ELSE 0.0 END)
              + (CASE WHEN (CASE WHEN ($oNTok) = 0 THEN 0.0 ELSE (length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE / ($oNTok)) END) BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0.0 END))"""

  /** Hashed-DSIR feature list over a token array `t`: unigrams ++ bigrams
    * (the <2-token special case mirrors Dedup.shingles: the whole joined
    * text as one gram). Bucket = first 8 md5 hex chars as int, mod 10000
    * (sampleCoin's replayable-hash convention). Shared by llm_dsir_hashed
    * and llm_weighted_mix so the two oracles provably hash the same
    * feature space. */
  private val oFeats = s"""list_concat(t, CASE WHEN len(t) < 2 THEN [array_to_string(t, ' ')]
           ELSE list_transform(generate_series(0, len(t) - 2),
             i -> concat_ws(' ', t[i+1], t[i+2])) END)"""

  /** The BPE training chain as a WITH-clause prefix: n merge iterations
    * replayed as chained MATERIALIZED CTEs (w0..wn word tables carrying
    * the ORIGINAL word, m1..mn the per-iteration argmax). ONE copy
    * shared by llm_bpe_merges (reads m1..mn) and the encode/compose
    * oracles (read `vocabmap` = the final word→subword map — the
    * training chain's last word table IS the tokenizer applied to every
    * corpus word), so the learned table provably cannot drift between
    * the training and application oracles. The greedy left-to-right
    * non-overlapping merge is a global regexp_replace over a
    * '(sym)(sym)…' delimiter encoding — matches share no characters, so
    * RE2's non-overlapping global scan IS the BPE apply rule. Unused
    * CTEs cost nothing (DuckDB evaluates only referenced CTEs). */
  /** DuckDB replay of Bpe.byteGlyph for the bytes a pure-ASCII corpus
    * can contain: the remapped ASCII bytes are 0x01-0x20 and 0x7F —
    * byte b maps to codepoint 0x100+b for b ≤ 0x20 (byte 0x00 has
    * glyph index 0, so indices track byte values below 0x21) and 0x7F
    * → 0x121 (33 non-printables precede it). Printable ASCII maps to
    * itself, so translate() is identity on it. 0x00 needs no entry —
    * a parquet UTF-8 string cannot carry NUL through DuckDB. */
  private def oGlyphify(expr: String): String = {
    val pairs = (1 to 0x20).map(b => (b, 0x100 + b)) :+ ((0x7F, 0x121))
    val from = pairs.map(p => s"chr(${p._1})").mkString(" || ")
    val to = pairs.map(p => s"chr(${p._2})").mkString(" || ")
    s"translate($expr, $from, $to)"
  }

  private def oBpeChain(n: Int, byteLevel: Boolean = false,
                        tokSrc: String = oTok): String = {
    // byte-level mode drops the `</w>` marker term and renders bytes
    // via the published bytes_to_unicode glyphs (oGlyphify — identity
    // on printable ASCII, so the alnum-word mode is unaffected); the
    // '.'-split stays per codepoint, which equals per UTF-8 byte on
    // the pure-ASCII driver corpus (the only regime the oracle can
    // express — BpeSpec pins the multi-byte split where the two
    // genuinely diverge). tokSrc swaps the pre-tokenizer (whitespace
    // words vs the GPT-2 regex) while the whole merge/apply chain
    // stays shared.
    val marker = if (byteLevel) "" else "(</w>)"
    val symSrc = if (byteLevel) oGlyphify("w") else "w"
    val sb = new StringBuilder
    sb ++= s"""WITH w0 AS MATERIALIZED (
         SELECT w, '(' || array_to_string(regexp_extract_all($symSrc, '.'), ')(') || ')$marker' AS s, f
         FROM (SELECT w, count(*) AS f FROM (SELECT unnest($tokSrc) AS w FROM documents) GROUP BY w))"""
    for (k <- 1 to n) {
      sb ++= s""",
         p$k AS (SELECT t[i+1] AS a, t[i+2] AS b, f
                 FROM (SELECT string_split(substr(s, 2, length(s) - 2), ')(') AS t, f FROM w${k - 1}),
                      UNNEST(generate_series(0, len(t) - 2)) AS u(i)
                 WHERE len(t) >= 2),
         m$k AS MATERIALIZED (SELECT a, b, sum(f)::BIGINT AS cnt FROM p$k
                 GROUP BY a, b ORDER BY cnt DESC, a, b LIMIT 1),
         w$k AS MATERIALIZED (SELECT w, regexp_replace(s,
                 '\\(' || (SELECT a FROM m$k) || '\\)\\(' || (SELECT b FROM m$k) || '\\)',
                 '(' || (SELECT a FROM m$k) || (SELECT b FROM m$k) || ')', 'g') AS s, f FROM w${k - 1})"""
    }
    sb ++= s""",
         vocabmap AS MATERIALIZED (
           SELECT w, string_split(substr(s, 2, length(s) - 2), ')(') AS toks FROM w$n)"""
    sb.toString
  }

  /** The planted-corpus SQL (documents ∪ 40-token-truncated twins) —
    * ONE copy shared by every oracle that mirrors plantedCorpus, so the
    * planting rule cannot drift between the dedup/dup-span families. */
  private val oCorpus = """SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 100000,
             CASE WHEN len(string_split(text, ' ')) <= 40 THEN text
                  ELSE array_to_string(string_split(text, ' ')[1:40], ' ') END
           FROM documents"""

  /** Shared dup-span CTE chains: planted corpus → windows → occurrence
    * counts (oDupWin), and occ(doc_id,pos,e) → merged islands (oIslands).
    * llm_dup_spans / llm_dup_cut / llm_dup_stats compose these so all
    * three provably use the same windowing and merge rule. */
  private val oDupWin = s"""corpus AS ($oCorpus),
         tok AS (SELECT doc_id, $oTok AS t FROM corpus),
         eligible AS (SELECT doc_id, t FROM tok WHERE len(t) >= 15),
         win AS (SELECT doc_id, i AS pos, array_to_string(t[i+1:i+15], ' ') AS w
                 FROM eligible, UNNEST(generate_series(0, len(t) - 15)) AS u(i)),
         cnt AS (SELECT doc_id, pos, w, count(*) OVER (PARTITION BY w) AS c FROM win)"""
  private val oIslands = """m AS (SELECT doc_id, pos, e,
                 max(e) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
               FROM occ),
         fl AS (SELECT doc_id, pos, e,
                 CASE WHEN pmax IS NULL OR pos > pmax + 1 THEN 1 ELSE 0 END AS brk FROM m),
         isl AS (SELECT doc_id, pos, e,
                 sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g FROM fl)"""

  /** DuckDB replay of the FULL banded-pairing pipeline over the
    * bandSigParts fixture (llm_band_pairs family): fingerprint from md5
    * hex (the sampleCoin '0x'-cast convention), planted bit-flip twins,
    * range-explode banding, retroactive bucket cap (HAVING), Hamming
    * verify via xor + bit_count, pair dedup via DISTINCT. Parameterized
    * exactly like hammingBandedPairs: blocks = first of {4,8,16,32}
    * above the radius, bits = 64/blocks. */
  private def oBandPairs(radius: Int, cap: Int): String = {
    val pat = (0 until 9).map(j =>
      s"(CASE WHEN (((id // 100) + (id % 100)) % 9) > $j " +
        s"THEN (1::BIGINT << (($j*13 + (id % 7)) % 60)) ELSE 0::BIGINT END)")
      .reduce((a, b) => s"xor($a, $b)")
    s"""WITH base AS (
           SELECT doc_id*100 + r.k AS id FROM documents, range(8) r(k)
         ), sig0 AS (
           SELECT id, ('0x' || substr(md5(id::VARCHAR || 'graftband'), 1, 15))::BIGINT AS fp
           FROM base
         ), twins AS (
           SELECT id + 50 AS id, xor(fp, $pat) AS fp FROM sig0 WHERE id % 4 = 0
         ), sigs AS (SELECT id, fp FROM sig0 UNION ALL SELECT id, fp FROM twins),
         ${oBandedTail(radius, cap)}"""
  }

  /** The hammingBandedPairs replay TAIL over a preceding `sigs(id, fp)`
    * CTE: range-explode banding, retroactive bucket cap, Hamming verify,
    * pair dedup — factored so every gate whose fingerprints ARE
    * SQL-derivable (band fixture, md5-keyed simhash) provably replays
    * the same machinery. */
  private def oBandedTail(radius: Int, cap: Int): String = {
    val blocks = Seq(4, 8, 16, 32).find(_ > radius).get
    val bits = 64 / blocks
    val mask = (1L << bits) - 1L
    s"""blocked AS (
           SELECT id, fp, t.j AS blk, ((fp >> (t.j*$bits)) & $mask) AS kb
           FROM sigs, range($blocks) t(j)
         ), small AS (
           SELECT blk, kb FROM blocked GROUP BY 1, 2 HAVING count(*) <= $cap
         ), bounded AS (
           SELECT b.id, b.fp, b.blk, b.kb
           FROM blocked b JOIN small s ON b.blk = s.blk AND b.kb = s.kb
         )
         SELECT DISTINCT a.id AS id_a, b.id AS id_b,
           CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
         FROM bounded a JOIN bounded b ON a.blk = b.blk AND a.kb = b.kb AND a.id < b.id
         WHERE bit_count(xor(a.fp, b.fp)) <= $radius"""
  }

  /** DuckDB replay of the FULL md5-keyed simhash pipeline over the
    * planted corpus (llm_simhash_pairs_md5): per-OCCURRENCE 60-bit md5
    * token hashes (duplicates vote once each — unnest, not
    * list_distinct), the sign-sum vote kernel per bit, sig assembly,
    * then the shared banded tail. Bits 60-63 of the 60-bit hash are
    * structurally zero, so every vote there is -1 and the sig bit never
    * sets — range(60) suffices and bit 63 can never demand an
    * overflowing shift. Zero-token docs keep sig 0 via the LEFT JOIN
    * (the UDF's empty-accumulator result). */
  private def oSimhashMd5(radius: Int, cap: Int): String =
    s"""WITH corpus AS ($oCorpus),
         tok AS (SELECT doc_id, $oTok AS t FROM corpus),
         occ AS (SELECT doc_id, ('0x' || substr(md5(x), 1, 15))::BIGINT AS h
                 FROM tok, UNNEST(t) AS u(x)),
         votes AS (SELECT doc_id, b.j AS bit,
                    sum(CASE WHEN ((h >> b.j) & 1) = 1 THEN 1 ELSE -1 END) AS v
                   FROM occ, range(60) b(j) GROUP BY 1, 2),
         sigagg AS (SELECT doc_id,
                     sum(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS fp
                    FROM votes GROUP BY doc_id),
         sigs AS (SELECT c.doc_id AS id, coalesce(s.fp, 0) AS fp
                  FROM corpus c LEFT JOIN sigagg s USING (doc_id)),
         ${oBandedTail(radius, cap)}"""

  /** DuckDB replay of TextAnalysis.langId (r16: previously rows-only for
    * no reason — the heuristic is a pure Column expression): per-language
    * stopword hit rates (IN-lists built from TextAnalysis.profiles
    * ITSELF so they cannot drift), argmax with the 0.02 floor in profile
    * order (the foldRight when-chain's tie rule), CJK share for zh.
    * Score division is int/int in IEEE double in both engines —
    * bit-identical, so `s = best` equality replays exactly. */
  private def oLangId: String = {
    val scores = graft.ml.TextAnalysis.profiles.toSeq.map { case (lang, words) =>
      val inList = words.map(w => s"'$w'").mkString(", ")
      lang -> (s"CASE WHEN len(t) = 0 THEN 0.0 ELSE " +
        s"len(list_filter(t, x -> x IN ($inList)))::DOUBLE / len(t)::DOUBLE END")
    }
    val cols = scores.map { case (lang, e) => s"$e AS s_$lang" }.mkString(",\n           ")
    val best = scores.map { case (lang, _) => s"s_$lang" }.mkString("greatest(", ", ", ")")
    val picks = scores.map { case (lang, _) =>
      s"WHEN s_$lang = best AND s_$lang > 0.02 THEN '$lang'" }.mkString("\n           ")
    s"""WITH tok AS (SELECT doc_id, lang, text, $oTok AS t FROM documents),
         sc AS (SELECT doc_id, lang,
           $cols,
           CASE WHEN length(text) = 0 THEN 0.0
                ELSE len(regexp_extract_all(text, '[\\p{Han}]'))::DOUBLE / length(text)::DOUBLE
           END AS cjk
          FROM tok),
         b AS (SELECT *, $best AS best FROM sc)
         SELECT doc_id, lang,
           CASE WHEN cjk > 0.2 THEN 'zh'
           $picks
           ELSE 'und' END AS lang_pred
         FROM b"""
  }

  /** DuckDB replay of the FULL md5-keyed minhash-LSH pipeline
    * (llm_minhash_pairs_md5): md5 60-bit token hashes, the shingle
    * combine fold (f(f(h_i, h_i+1), h_i+2) — exactly the zip_with
    * reduction), the universal-hash min-fold with the (a_j, b_j)
    * constants EMBEDDED from Dedup.hashParams itself, md5 band keys,
    * bucket cap, candidate dedup, exact-Jaccard verify over the
    * distinct shingle sets (|union| = |a|+|b|-|intersect| on distinct
    * lists). Shingle values are nonnegative (60-bit md5), so DuckDB's
    * sign-of-dividend % equals the UDF's floorMod, and a*x' stays
    * below 2^62 — no overflow divergence. */
  private def oMinhashMd5(bands: Int, rpb: Int, thr: Double, cap: Int): String = {
    val vals = graft.ml.Dedup.hashParams(bands * rpb, 42L).zipWithIndex
      .map { case ((a, b), j) => s"($j, ${a}::BIGINT, ${b}::BIGINT)" }.mkString(", ")
    s"""WITH corpus AS ($oCorpus),
         tok AS (SELECT doc_id, $oTok AS t FROM corpus),
         th AS (SELECT doc_id,
                 list_transform(t, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS h
                FROM tok),
         shx AS (SELECT doc_id,
                  ('0x' || substr(md5(
                    ('0x' || substr(md5(h[i]::VARCHAR || ',' || h[i+1]::VARCHAR), 1, 15))::BIGINT::VARCHAR
                    || ',' || h[i+2]::VARCHAR), 1, 15))::BIGINT AS s
                 FROM th, UNNEST(generate_series(1, len(h) - 2)) AS u(i)
                 WHERE len(h) >= 3),
         shagg AS (SELECT doc_id, list_distinct(list(s)) AS sh FROM shx GROUP BY doc_id),
         shsmall AS (SELECT doc_id,
                  [('0x' || substr(md5(array_to_string(h, ',')), 1, 15))::BIGINT] AS sh
                 FROM th WHERE len(h) < 3),
         shs AS (SELECT doc_id, sh FROM shagg UNION ALL SELECT doc_id, sh FROM shsmall),
         params(j, a, b) AS (VALUES $vals),
         occ AS (SELECT doc_id, u.s FROM shs, UNNEST(sh) AS u(s)),
         sig AS (SELECT doc_id, p.j,
                  min(((s % 2147483647) * p.a + p.b) % 2147483647) AS v
                 FROM occ CROSS JOIN params p GROUP BY 1, 2),
         bandk AS (SELECT doc_id, j // $rpb AS band,
                    ('0x' || substr(md5(string_agg(v::VARCHAR, ',' ORDER BY j)), 1, 15))::BIGINT AS bkey
                   FROM sig GROUP BY doc_id, j // $rpb),
         small AS (SELECT band, bkey FROM bandk GROUP BY 1, 2 HAVING count(*) <= $cap),
         bounded AS (SELECT k.doc_id, k.band, k.bkey
                     FROM bandk k JOIN small s ON k.band = s.band AND k.bkey = s.bkey),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM bounded a JOIN bounded b
                  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         ver AS (SELECT c.id_a, c.id_b,
                  len(list_intersect(x.sh, y.sh))::DOUBLE /
                  (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))::DOUBLE AS j
                 FROM cand c JOIN shs x ON x.doc_id = c.id_a JOIN shs y ON y.doc_id = c.id_b)
         SELECT id_a, id_b, round(j, 6) AS jaccard FROM ver WHERE j >= $thr"""
  }

  /** DuckDB replay of the FULL hyperplane-LSH embedding near-dup
    * pipeline (llm_embed_pairs — previously rows-only): the plane
    * weights are EMBEDDED from the same seeded draws
    * Similarity.hyperplaneSignature makes (Random(seed + t) gaussians,
    * row-major), each plane's dot product is written as a
    * left-associated term chain over v[i]::DOUBLE — the same
    * multiply-then-accumulate order as the UDF's loop, so the sign bits
    * are IEEE-bit-identical, not approximately equal — then band
    * buckets, cap, candidate dedup and the cosine >= threshold verify
    * (list_cosine_similarity, the llm_cosine_topk convention; rounded
    * only in the output). The planted twins perturb in FLOAT
    * (x*1.05f + 0.01f) and DuckDB REAL arithmetic is float-exact, so
    * the fixture replays bit-identically too. */
  /** One hyperplane-table signature as SQL over a column `v` — the
    * weights replayed from the same seeded draws hyperplaneSignature
    * makes; the dot is a left-associated chain matching the UDF's
    * accumulate order bit-for-bit. Shared by the llm_embed_pairs and
    * llm_ann_lsh oracles. */
  private def oHyperplaneSig(dim: Int, planes: Int, seed: Long): String = {
    val rnd = new scala.util.Random(seed)
    val m = Array.fill(planes, dim)(rnd.nextGaussian())
    (0 until planes).map { p =>
      val dot = (0 until dim).map(i => s"(${m(p)(i)})*(v[${i + 1}]::DOUBLE)").mkString(" + ")
      s"(CASE WHEN ($dot) >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")::BIGINT")
  }

  private def oEmbedPairs(dim: Int, planes: Int, tables: Int, seed: Long,
                          thr: Double, cap: Int): String = {
    val bandSelects = (0 until tables).map(t =>
      s"SELECT vec_id, $t AS tbl, ${oHyperplaneSig(dim, planes, seed + t)} AS sig FROM vecs")
      .mkString("\n UNION ALL ")
    s"""WITH twins AS (SELECT vec_id + 100000 AS vec_id,
           list_prepend((embedding[1] * 1.05::REAL + 0.01::REAL)::REAL, embedding[2:]) AS v
         FROM embeddings),
         vecs AS (SELECT vec_id, embedding AS v FROM embeddings
                  UNION ALL SELECT vec_id, v FROM twins),
         banded AS ($bandSelects),
         small AS (SELECT tbl, sig FROM banded GROUP BY 1, 2 HAVING count(*) <= $cap),
         bounded AS (SELECT b.vec_id, b.tbl, b.sig
                     FROM banded b JOIN small s ON b.tbl = s.tbl AND b.sig = s.sig),
         cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                  FROM bounded a JOIN bounded b
                  ON a.tbl = b.tbl AND a.sig = b.sig AND a.vec_id < b.vec_id),
         ver AS (SELECT c.id_a, c.id_b,
                  list_cosine_similarity(CAST(x.v AS DOUBLE[]), CAST(y.v AS DOUBLE[])) AS cos
                 FROM cand c JOIN vecs x ON x.vec_id = c.id_a JOIN vecs y ON y.vec_id = c.id_b)
         SELECT id_a, id_b, round(cos, 6) AS cosine FROM ver WHERE cos >= $thr"""
  }

  /** DuckDB replay of the FULL quantized k-means + SemDeDup chain
    * (llm_semdedup_q): planted float twins (REAL arithmetic is
    * float-exact), floor-quantization to integer micro-units, md5-keyed
    * seeding/sampling, `iters` argmin/floor-div-mean rounds as chained
    * MATERIALIZED CTEs, final all-vec assignment, within-cell pairs
    * under the retroactive cell cap, integer squared-L2 verify, and the
    * lower-integer-dot-priority loser rule. Every step is 64-bit
    * integer arithmetic after the one exact quantization, so the replay
    * is bit-exact — no rounding anywhere. (s − ((s%n)+n)%n)/n is
    * floor-division written so the numerator divides exactly — immune
    * to the two engines' truncation conventions. */
  /** The planted (twins-unioned) vector source for the quantized
    * k-means chains — llm_semdedup_q's corpus. */
  private val oQPlantedSrc = """SELECT vec_id, embedding AS v FROM embeddings
                   UNION ALL
                   SELECT vec_id + 100000 AS vec_id,
                     list_prepend((embedding[1] * 1.05::REAL + 0.01::REAL)::REAL, embedding[2:]) AS v
                   FROM embeddings"""

  /** Shared quantized-k-means CTE prefix over a `(vec_id, v)` source:
    * quantize → md5-keyed seed/sample → `iters` argmin/floor-div-mean
    * rounds (c0..cN MATERIALIZED), WITHOUT the final all-vec assignment
    * — [[oQFlatFin]] (exact flat argmin, the ≤16-cell gate path) or
    * [[oQHierFin]] (the two-level coarse-then-fine probe, the ≥64-cell
    * production path) appends `fin`. ONE copy composed by the
    * llm_semdedup_q / llm_semdedup_hq / llm_ann_ivf_q tails so the
    * trained cells provably cannot drift between the gates' oracles. */
  private def oQKmeansCells(src: String, nCells: Int, iters: Int,
                            trainMod: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH vecs0 AS ($src),
         q AS MATERIALIZED (SELECT vec_id, i AS d,
             CAST(floor(CAST(v[i+1] AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT) AS x
           FROM vecs0, UNNEST(generate_series(0, 63)) AS u(i)),
         h AS (SELECT vec_id, ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT AS hk
               FROM vecs0),
         train AS MATERIALIZED (SELECT q.vec_id, q.d, q.x FROM q JOIN h USING (vec_id)
               WHERE hk % $trainMod = 0),
         init AS (SELECT vec_id, row_number() OVER (ORDER BY hk, vec_id) - 1 AS cell
                  FROM h WHERE hk % $trainMod = 0
                  QUALIFY row_number() OVER (ORDER BY hk, vec_id) <= $nCells),
         c0 AS MATERIALIZED (SELECT init.cell, q.d, q.x AS cx FROM init JOIN q USING (vec_id))"""
    for (k <- 1 to iters) {
      sb ++= s""",
         a$k AS (SELECT vec_id, cell FROM (
              SELECT t.vec_id, c.cell,
                row_number() OVER (PARTITION BY t.vec_id
                  ORDER BY sum((t.x - c.cx)*(t.x - c.cx)), c.cell) AS rn
              FROM train t JOIN c${k - 1} c ON t.d = c.d
              GROUP BY t.vec_id, c.cell) WHERE rn = 1),
         u$k AS (SELECT a.cell, t.d, sum(t.x)::BIGINT AS s, count(*)::BIGINT AS n
                 FROM a$k a JOIN train t USING (vec_id) GROUP BY a.cell, t.d),
         c$k AS MATERIALIZED (SELECT c.cell, c.d,
                CASE WHEN u.n IS NULL THEN c.cx
                     ELSE (u.s - (((u.s % u.n) + u.n) % u.n)) // u.n END AS cx
              FROM c${k - 1} c LEFT JOIN u$k u ON c.cell = u.cell AND c.d = u.d)"""
    }
    sb.toString
  }

  /** [[oQKmeansCells]] with the TWO-LEVEL per-iteration assignment —
    * the DuckDB replay of ivfCentroidsQ's r19 training seam (the last
    * flat O(nCells·dim)/row term, hier-probed above
    * hierAssignThreshold): each training round k re-derives the coarse
    * model FROM THE CURRENT centroids c{k-1} (integer Lloyd's over the
    * fine centroids — the oQHierFin machinery with per-round `_$k`
    * names: seeds every (nCells/g)-th cell, 4 assign/update rounds
    * hga/hgu/hg mirroring the Scala update-after-assign order), probes
    * each TRAIN row's top-`nProbeCoarse` groups against the FINAL
    * update hg4 with children from the FINAL assignment hga4, argmins
    * within the probed children (ties → lowest cell), flat-falls-back
    * for rows whose probed groups are all empty, and updates exactly
    * like the flat chain. Every step 64-bit integer arithmetic — the
    * replay stays bit-exact even though the assignment is approximate. */
  private def oQKmeansCellsHier(src: String, nCells: Int, iters: Int,
                                trainMod: Int, nProbeCoarse: Int): String = {
    val g = math.max(1, math.round(math.sqrt(nCells.toDouble)).toInt)
    val seeds = (0 until g).map(j => s"($j, ${j * nCells / g})").mkString(", ")
    val sb = new StringBuilder
    sb ++= s"""WITH vecs0 AS ($src),
         q AS MATERIALIZED (SELECT vec_id, i AS d,
             CAST(floor(CAST(v[i+1] AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT) AS x
           FROM vecs0, UNNEST(generate_series(0, 63)) AS u(i)),
         h AS (SELECT vec_id, ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT AS hk
               FROM vecs0),
         train AS MATERIALIZED (SELECT q.vec_id, q.d, q.x FROM q JOIN h USING (vec_id)
               WHERE hk % $trainMod = 0),
         init AS (SELECT vec_id, row_number() OVER (ORDER BY hk, vec_id) - 1 AS cell
                  FROM h WHERE hk % $trainMod = 0
                  QUALIFY row_number() OVER (ORDER BY hk, vec_id) <= $nCells),
         c0 AS MATERIALIZED (SELECT init.cell, q.d, q.x AS cx FROM init JOIN q USING (vec_id))"""
    for (k <- 1 to iters) {
      sb ++= s""",
         hg0_$k AS MATERIALIZED (SELECT s.grp, c.d, c.cx
              FROM (VALUES $seeds) AS s(grp, scell)
              JOIN c${k - 1} c ON c.cell = s.scell)"""
      for (r <- 1 to 4) {
        sb ++= s""",
         hga${r}_$k AS (SELECT cell, grp FROM (
              SELECT c.cell, gg.grp,
                row_number() OVER (PARTITION BY c.cell
                  ORDER BY sum((c.cx - gg.cx)*(c.cx - gg.cx)), gg.grp) AS rn
              FROM c${k - 1} c JOIN hg${r - 1}_$k gg ON c.d = gg.d
              GROUP BY c.cell, gg.grp) WHERE rn = 1),
         hgu${r}_$k AS (SELECT a.grp, c.d, sum(c.cx)::BIGINT AS s, count(*)::BIGINT AS n
                 FROM hga${r}_$k a JOIN c${k - 1} c USING (cell) GROUP BY a.grp, c.d),
         hg${r}_$k AS MATERIALIZED (SELECT gg.grp, gg.d,
                CASE WHEN u.n IS NULL THEN gg.cx
                     ELSE (u.s - (((u.s % u.n) + u.n) % u.n)) // u.n END AS cx
              FROM hg${r - 1}_$k gg LEFT JOIN hgu${r}_$k u ON gg.grp = u.grp AND gg.d = u.d)"""
      }
      sb ++= s""",
         hrp_$k AS (SELECT vec_id, grp FROM (
              SELECT t.vec_id, gg.grp,
                row_number() OVER (PARTITION BY t.vec_id
                  ORDER BY sum((t.x - gg.cx)*(t.x - gg.cx)), gg.grp) AS rn
              FROM train t JOIN hg4_$k gg ON t.d = gg.d
              GROUP BY t.vec_id, gg.grp) WHERE rn <= $nProbeCoarse),
         hhc_$k AS (SELECT p.vec_id, a.cell FROM hrp_$k p JOIN hga4_$k a USING (grp)),
         hha_$k AS (SELECT vec_id, cell FROM (
              SELECT hh.vec_id, hh.cell,
                row_number() OVER (PARTITION BY hh.vec_id
                  ORDER BY sum((t.x - c.cx)*(t.x - c.cx)), hh.cell) AS rn
              FROM hhc_$k hh JOIN train t ON t.vec_id = hh.vec_id
              JOIN c${k - 1} c ON c.cell = hh.cell AND c.d = t.d
              GROUP BY hh.vec_id, hh.cell) WHERE rn = 1),
         hfb_$k AS (SELECT vec_id, cell FROM (
              SELECT t.vec_id, c.cell,
                row_number() OVER (PARTITION BY t.vec_id
                  ORDER BY sum((t.x - c.cx)*(t.x - c.cx)), c.cell) AS rn
              FROM train t JOIN c${k - 1} c ON t.d = c.d
              WHERE t.vec_id NOT IN (SELECT vec_id FROM hha_$k)
              GROUP BY t.vec_id, c.cell) WHERE rn = 1),
         a$k AS (SELECT * FROM hha_$k UNION ALL SELECT * FROM hfb_$k),
         u$k AS (SELECT a.cell, t.d, sum(t.x)::BIGINT AS s, count(*)::BIGINT AS n
                 FROM a$k a JOIN train t USING (vec_id) GROUP BY a.cell, t.d),
         c$k AS MATERIALIZED (SELECT c.cell, c.d,
                CASE WHEN u.n IS NULL THEN c.cx
                     ELSE (u.s - (((u.s % u.n) + u.n) % u.n)) // u.n END AS cx
              FROM c${k - 1} c LEFT JOIN u$k u ON c.cell = u.cell AND c.d = u.d)"""
    }
    sb.toString
  }

  /** Flat-argmin all-vec assignment (the exact scan the ≤16-cell gates
    * run): `fin` = argmin integer squared L2 over all cells, ties →
    * lowest cell. */
  private def oQFlatFin(iters: Int): String =
    s""",
         fin AS MATERIALIZED (SELECT vec_id, cell FROM (
              SELECT q.vec_id, c.cell,
                row_number() OVER (PARTITION BY q.vec_id
                  ORDER BY sum((q.x - c.cx)*(q.x - c.cx)), c.cell) AS rn
              FROM q JOIN c$iters c ON q.d = c.d
              GROUP BY q.vec_id, c.cell) WHERE rn = 1)"""

  /** [[oQFlatFin]]'s TWO-LEVEL sibling — the DuckDB replay of
    * Similarity.assignCellHierQ/hierModelQ, the assignment path 100 TB
    * actually runs (semDedupQ switches to it at ≥64 cells): the k fine
    * centroids are clustered by an integer Lloyd's (every-(k/g)-th
    * seed, 4 rounds of argmin-sq-L2 assignment with ties → lowest
    * group and floor-div means with empty-group carry — CTEs g0..g4 /
    * ga1..ga4 mirror the Scala loop's update-after-assign order:
    * children come from the FINAL assignment round ga4, the row probe
    * scans the FINAL update g4); each row ranks the g coarse groups by
    * squared L2 (ties → lowest group), probes the best `nProbeCoarse`,
    * and argmins over their member cells (ties → lowest cell). Rows
    * whose probed groups are ALL empty take the exact flat fallback
    * (fb), exactly as the Scala UDF does. Every step is 64-bit integer
    * arithmetic — the replay is bit-exact, which is what puts the hier
    * branch under a FULL oracle instead of the ≥95%-agreement spec
    * (r17 verdict, What's missing #1). */
  private def oQHierFin(nCells: Int, iters: Int, nProbeCoarse: Int): String = {
    val g = math.max(1, math.round(math.sqrt(nCells.toDouble)).toInt)
    val seeds = (0 until g).map(j => s"($j, ${j * nCells / g})").mkString(", ")
    val sb = new StringBuilder
    sb ++= s""",
         g0 AS MATERIALIZED (SELECT s.grp, c.d, c.cx
              FROM (VALUES $seeds) AS s(grp, scell)
              JOIN c$iters c ON c.cell = s.scell)"""
    for (r <- 1 to 4) {
      sb ++= s""",
         ga$r AS (SELECT cell, grp FROM (
              SELECT c.cell, gg.grp,
                row_number() OVER (PARTITION BY c.cell
                  ORDER BY sum((c.cx - gg.cx)*(c.cx - gg.cx)), gg.grp) AS rn
              FROM c$iters c JOIN g${r - 1} gg ON c.d = gg.d
              GROUP BY c.cell, gg.grp) WHERE rn = 1),
         gu$r AS (SELECT a.grp, c.d, sum(c.cx)::BIGINT AS s, count(*)::BIGINT AS n
                 FROM ga$r a JOIN c$iters c USING (cell) GROUP BY a.grp, c.d),
         g$r AS MATERIALIZED (SELECT gg.grp, gg.d,
                CASE WHEN u.n IS NULL THEN gg.cx
                     ELSE (u.s - (((u.s % u.n) + u.n) % u.n)) // u.n END AS cx
              FROM g${r - 1} gg LEFT JOIN gu$r u ON gg.grp = u.grp AND gg.d = u.d)"""
    }
    sb ++= s""",
         rp AS (SELECT vec_id, grp FROM (
              SELECT q.vec_id, gg.grp,
                row_number() OVER (PARTITION BY q.vec_id
                  ORDER BY sum((q.x - gg.cx)*(q.x - gg.cx)), gg.grp) AS rn
              FROM q JOIN g4 gg ON q.d = gg.d
              GROUP BY q.vec_id, gg.grp) WHERE rn <= $nProbeCoarse),
         hc AS (SELECT rp.vec_id, a.cell FROM rp JOIN ga4 a USING (grp)),
         ha AS (SELECT vec_id, cell FROM (
              SELECT hh.vec_id, hh.cell,
                row_number() OVER (PARTITION BY hh.vec_id
                  ORDER BY sum((q.x - c.cx)*(q.x - c.cx)), hh.cell) AS rn
              FROM hc hh JOIN q ON q.vec_id = hh.vec_id
              JOIN c$iters c ON c.cell = hh.cell AND c.d = q.d
              GROUP BY hh.vec_id, hh.cell) WHERE rn = 1),
         fb AS (SELECT vec_id, cell FROM (
              SELECT q.vec_id, c.cell,
                row_number() OVER (PARTITION BY q.vec_id
                  ORDER BY sum((q.x - c.cx)*(q.x - c.cx)), c.cell) AS rn
              FROM q JOIN c$iters c ON q.d = c.d
              WHERE q.vec_id NOT IN (SELECT vec_id FROM ha)
              GROUP BY q.vec_id, c.cell) WHERE rn = 1),
         fin AS MATERIALIZED (SELECT * FROM ha UNION ALL SELECT * FROM fb)"""
    sb.toString
  }

  /** [[oQKmeansCells]] + [[oQFlatFin]] — the composed chain the
    * existing flat-assignment oracles consume. */
  private def oQKmeansChain(src: String, nCells: Int, iters: Int,
                            trainMod: Int): String =
    oQKmeansCells(src, nCells, iters, trainMod) + oQFlatFin(iters)

  /** llm_semdedup_q's tail over a composed chain (any `fin`): integer
    * centroid-dot priorities, the retroactive cell cap, within-cell
    * pairs, integer squared-L2 verify, lower-priority loser rule. ONE
    * copy shared by the flat (llm_semdedup_q) and hier
    * (llm_semdedup_hq) gates so the pair machinery provably cannot
    * drift between the two assignment paths. */
  private def oSemDedupQTail(iters: Int, threshold: Long, cap: Int): String =
    s""",
         pri AS MATERIALIZED (SELECT f.vec_id, f.cell, sum(q.x * c.cx)::BIGINT AS prio
              FROM fin f JOIN q ON q.vec_id = f.vec_id
              JOIN c$iters c ON c.cell = f.cell AND c.d = q.d
              GROUP BY f.vec_id, f.cell),
         small AS (SELECT cell FROM fin GROUP BY cell HAVING count(*) <= $cap),
         cand AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
              FROM fin a JOIN fin b ON a.cell = b.cell AND a.vec_id < b.vec_id
              JOIN small s ON s.cell = a.cell),
         d2 AS (SELECT c.id_a, c.id_b, sum((xa.x - xb.x)*(xa.x - xb.x)) AS dist
              FROM cand c JOIN q xa ON xa.vec_id = c.id_a
                          JOIN q xb ON xb.vec_id = c.id_b AND xb.d = xa.d
              GROUP BY c.id_a, c.id_b),
         losers AS (SELECT DISTINCT CASE WHEN pa.prio < pb.prio
                  OR (pa.prio = pb.prio AND d2.id_a > d2.id_b) THEN d2.id_a
                  ELSE d2.id_b END AS vec_id
              FROM d2 JOIN pri pa ON pa.vec_id = d2.id_a
                      JOIN pri pb ON pb.vec_id = d2.id_b
              WHERE d2.dist <= $threshold)
         SELECT p.vec_id, p.cell::BIGINT AS cell, p.prio AS priority,
           (CASE WHEN l.vec_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS keep
         FROM pri p LEFT JOIN losers l ON l.vec_id = p.vec_id"""

  private def oSemDedupQ(nCells: Int, iters: Int, trainMod: Int,
                         threshold: Long, cap: Int): String =
    oQKmeansChain(oQPlantedSrc, nCells, iters, trainMod) +
      oSemDedupQTail(iters, threshold, cap)

  /** llm_semdedup_hq: the same planted corpus and pair machinery as
    * llm_semdedup_q, but at 64 cells — AT the hierAssignThreshold, so
    * the Spark side takes the two-level assignCellHierQ probe and the
    * oracle replays it via [[oQHierFin]]. This is the gate the 100 TB
    * path was missing: every prior FULL-oracle semantic row ran 16
    * cells and the exact flat scan. r19: TRAINING is hier-probed at
    * this cell count too ([[oQKmeansCellsHier]] replays it). */
  private def oSemDedupHQ(nCells: Int, iters: Int, trainMod: Int,
                          threshold: Long, cap: Int, nProbeCoarse: Int): String =
    oQKmeansCellsHier(oQPlantedSrc, nCells, iters, trainMod, nProbeCoarse) +
      oQHierFin(nCells, iters, nProbeCoarse) +
      oSemDedupQTail(iters, threshold, cap)

  /** llm_ann_ivf_q's tail over a composed chain (any `fin`): probe =
    * the nProbe integer-nearest cells per query (row_number over
    * (dist, cell) — probeCellsQ's sort, a FLAT scan both engines:
    * queries are few by contract), candidates = the probed inverted
    * lists under the `fin` assignment, score = integer squared L2,
    * rank = (dist2 ASC, vec_id). ONE copy shared by the flat
    * (llm_ann_ivf_q) and hier (llm_ann_ivf_hq) gates. */
  private def oAnnIvfQTail(iters: Int, k: Int, nProbe: Int): String =
    s""",
         qry AS (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 5),
         probe AS (SELECT query_id, cell FROM (
              SELECT y.query_id, c.cell,
                row_number() OVER (PARTITION BY y.query_id
                  ORDER BY sum((qq.x - c.cx)*(qq.x - c.cx)), c.cell) AS rn
              FROM qry y JOIN q qq ON qq.vec_id = y.query_id
              JOIN c$iters c ON c.d = qq.d
              GROUP BY y.query_id, c.cell) WHERE rn <= $nProbe),
         cand AS (SELECT p.query_id, f.vec_id
                  FROM probe p JOIN fin f ON f.cell = p.cell),
         sc AS (SELECT c.query_id, c.vec_id,
                  sum((xa.x - xb.x)*(xa.x - xb.x))::BIGINT AS dist2
                FROM cand c JOIN q xa ON xa.vec_id = c.query_id
                            JOIN q xb ON xb.vec_id = c.vec_id AND xb.d = xa.d
                GROUP BY 1, 2),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY dist2, vec_id) AS rank FROM sc)
         SELECT query_id, vec_id, dist2, rank FROM r WHERE rank <= $k"""

  private val oAnnSrc = "SELECT vec_id, embedding AS v FROM embeddings"

  private def oAnnIvfQ(nCells: Int, iters: Int, trainMod: Int,
                       k: Int, nProbe: Int): String =
    oQKmeansChain(oAnnSrc, nCells, iters, trainMod) +
      oAnnIvfQTail(iters, k, nProbe)

  /** llm_ann_ivf_hq: the ANN tail over the HIER `fin` at 64 cells —
    * the retrieval-path twin of llm_semdedup_hq's assignment gate. */
  private def oAnnIvfHQ(nCells: Int, iters: Int, trainMod: Int,
                        k: Int, nProbe: Int, nProbeCoarse: Int): String =
    oQKmeansCellsHier(oAnnSrc, nCells, iters, trainMod, nProbeCoarse) +
      oQHierFin(nCells, iters, nProbeCoarse) +
      oAnnIvfQTail(iters, k, nProbe)

  private val oracleBase: Map[String, String] = Map(
    "llm_semdedup_q" -> oSemDedupQ(nCells = 16, iters = 4, trainMod = 2,
      threshold = 4000000000L, cap = 100000),
    "llm_semdedup_hq" -> oSemDedupHQ(nCells = 64, iters = 4, trainMod = 2,
      threshold = 4000000000L, cap = 100000, nProbeCoarse = 2),
    "llm_ann_ivf_q" -> oAnnIvfQ(nCells = 16, iters = 4, trainMod = 2,
      k = 5, nProbe = 4),
    "llm_ann_ivf_hq" -> oAnnIvfHQ(nCells = 64, iters = 4, trainMod = 2,
      k = 5, nProbe = 4, nProbeCoarse = 2),
    // the materialized-index gates compute the SAME rows as their
    // in-memory twins (integer training is bit-deterministic, so equal
    // parameters pin equal centroids; MlSpec pins the output equality
    // and the partition pruning) — they share the replays verbatim
    "llm_ann_ivf_idx_q" -> oAnnIvfQ(nCells = 16, iters = 4, trainMod = 2,
      k = 5, nProbe = 4),
    "llm_ann_ivf_idx_read" -> oAnnIvfQ(nCells = 16, iters = 4, trainMod = 2,
      k = 5, nProbe = 4),
    // the stream-built index and its compaction serve the SAME rows as
    // the batch-built one (frozen bit-deterministic model, row-local
    // tagging, same pruned read) — shared replay
    "stream_ann_ivf_idx" -> oAnnIvfQ(nCells = 16, iters = 4, trainMod = 2,
      k = 5, nProbe = 4),
    "llm_ann_ivf_idx_compact" -> oAnnIvfQ(nCells = 16, iters = 4, trainMod = 2,
      k = 5, nProbe = 4),
    "stream_ann_serve" -> oAnnIvfQ(nCells = 16, iters = 4, trainMod = 2,
      k = 5, nProbe = 4),
    "llm_ann_ivf_idx_hq" -> oAnnIvfHQ(nCells = 64, iters = 4, trainMod = 2,
      k = 5, nProbe = 4, nProbeCoarse = 2),
    "llm_langid" -> oLangId,
    "llm_minhash_pairs_md5" -> oMinhashMd5(bands = 8, rpb = 2, thr = 0.4, cap = 1000),
    "llm_embed_pairs" ->
      oEmbedPairs(dim = 64, planes = 12, tables = 4, seed = 42L, thr = 0.95, cap = 1000),
    // LSH ANN replay (llm_ann_lsh — previously rows-only): same
    // bit-exact hyperplane sigs, bucket join against the vec_id < 5
    // query side, cosine rounded BEFORE ranking (lshTopK's rounded-rank
    // convention), row_number (cosine DESC, vec_id)
    "llm_ann_lsh" -> {
      val bandSelects = (0 until 6).map(t =>
        s"SELECT vec_id, $t AS tbl, ${oHyperplaneSig(64, 10, 42L + t)} AS sig FROM vecs")
        .mkString("\n UNION ALL ")
      s"""WITH vecs AS (SELECT vec_id, embedding AS v FROM embeddings),
         banded AS ($bandSelects),
         qb AS (SELECT vec_id AS query_id, tbl, sig FROM banded WHERE vec_id < 5),
         cand AS (SELECT DISTINCT q.query_id, b.vec_id
                  FROM banded b JOIN qb q ON b.tbl = q.tbl AND b.sig = q.sig),
         ver AS (SELECT c.query_id, c.vec_id,
                  round(list_cosine_similarity(CAST(x.v AS DOUBLE[]), CAST(y.v AS DOUBLE[])), 6) AS cosine
                 FROM cand c JOIN vecs x ON x.vec_id = c.vec_id
                      JOIN vecs y ON y.vec_id = c.query_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, vec_id) AS rank FROM ver)
         SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 5"""
    },
    "llm_band_pairs" -> oBandPairs(radius = 3, cap = 1000),
    "llm_simhash_pairs_md5" -> oSimhashMd5(radius = 7, cap = 1000),
    "llm_band_pairs_r7" -> oBandPairs(radius = 7, cap = 32),
    // the streaming twin: radius 7 with the streaming default cap, inert
    // at gate SF (prospective == retroactive while no bucket crosses it)
    "stream_band_pairs" -> oBandPairs(radius = 7, cap = 1000),
    "llm_token_stats" ->
      s"""SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(trim(text), '\\s+')) END::BIGINT AS n_tokens,
           len(regexp_extract_all(text, '[\\p{L}]+|[\\p{N}]+|[^\\s\\p{L}\\p{N}]+'))::BIGINT AS n_subwords,
           length(text)::BIGINT AS n_chars_calc
         FROM documents""",
    "llm_quality" ->
      s"""SELECT doc_id,
           round(CASE WHEN length(text) = 0 THEN 0.0
             ELSE length(regexp_replace(text, '[^[:punct:]]', '', 'g'))::DOUBLE / length(text) END, 6) AS punct_ratio,
           round(CASE WHEN len($oTok) = 0 THEN 0.0
             ELSE len(list_filter($oTok, x -> x IN ('the','a','of','and','to','in','is','that','it','for')))::DOUBLE
                  / len($oTok) END, 6) AS stop_ratio,
           round(CASE WHEN (CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END) = 0 THEN 0.0
             ELSE length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE
                  / (CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END) END, 6) AS mean_word_len,
           $oQuality AS quality
         FROM documents""",
    "llm_fingerprint" ->
      s"""SELECT doc_id, md5(array_to_string(list_sort(list_distinct($oTok)), ' ')) AS fp_md5
         FROM documents""",
    "llm_dedup_exact" ->
      s"""SELECT min(doc_id) AS doc_id FROM ($oCorpus)
         GROUP BY md5(text)""",
    "llm_dedup_resolve" ->
      s"""WITH RECURSIVE
         corpus AS ($oCorpus),
         dig AS (SELECT doc_id, md5(text) AS d FROM corpus),
         star AS (
           SELECT m.m AS id_a, g.doc_id AS id_b FROM dig g
           JOIN (SELECT d, min(doc_id) AS m FROM dig GROUP BY d) m ON g.d = m.d
           WHERE g.doc_id <> m.m),
         sh AS (
           SELECT doc_id, list_distinct(CASE WHEN len($oTok) < 3 THEN [array_to_string($oTok, ' ')]
             ELSE list_transform(generate_series(0, len($oTok) - 3),
               i -> concat_ws(' ', ($oTok)[i+1], ($oTok)[i+2], ($oTok)[i+3])) END) AS shingles
           FROM documents),
         jac AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
           WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE
                 / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.02),
         edges AS (SELECT id_a, id_b FROM star UNION SELECT id_a, id_b FROM jac),
         und AS (SELECT id_a AS s, id_b AS t FROM edges UNION SELECT id_b, id_a FROM edges),
         cc(node, label) AS (
           SELECT doc_id, doc_id FROM corpus
           UNION
           SELECT u.s, cc.label FROM und u JOIN cc ON cc.node = u.t)
         SELECT node AS doc_id, min(label) AS cluster_id,
           CAST(CASE WHEN node = min(label) THEN 1 ELSE 0 END AS BIGINT) AS keep
         FROM cc GROUP BY node""",
    "llm_dedup_keep_best" ->
      s"""WITH RECURSIVE
         corpus AS ($oCorpus),
         dig AS (SELECT doc_id, md5(text) AS d FROM corpus),
         star AS (
           SELECT m.m AS id_a, g.doc_id AS id_b FROM dig g
           JOIN (SELECT d, min(doc_id) AS m FROM dig GROUP BY d) m ON g.d = m.d
           WHERE g.doc_id <> m.m),
         sh AS (
           SELECT doc_id, list_distinct(CASE WHEN len($oTok) < 3 THEN [array_to_string($oTok, ' ')]
             ELSE list_transform(generate_series(0, len($oTok) - 3),
               i -> concat_ws(' ', ($oTok)[i+1], ($oTok)[i+2], ($oTok)[i+3])) END) AS shingles
           FROM documents),
         jac AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
           WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE
                 / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.02),
         edges AS (SELECT id_a, id_b FROM star UNION SELECT id_a, id_b FROM jac),
         und AS (SELECT id_a AS s, id_b AS t FROM edges UNION SELECT id_b, id_a FROM edges),
         cc(node, label) AS (
           SELECT doc_id, doc_id FROM corpus
           UNION
           SELECT u.s, cc.label FROM und u JOIN cc ON cc.node = u.t),
         cl AS (SELECT node AS doc_id, min(label) AS cluster_id FROM cc GROUP BY node),
         q AS (SELECT doc_id, $oQuality AS quality FROM corpus),
         r AS (SELECT cl.cluster_id, cl.doc_id, q.quality,
                 row_number() OVER (PARTITION BY cl.cluster_id
                   ORDER BY q.quality DESC, cl.doc_id) AS rn,
                 count(*) OVER (PARTITION BY cl.cluster_id) AS n_members
               FROM cl JOIN q USING (doc_id))
         SELECT cluster_id, doc_id, quality, n_members::BIGINT AS n_members
         FROM r WHERE rn = 1""",
    "llm_shard_shuffle" ->
      """WITH c AS (SELECT doc_id,
           ('0x' || substr(md5(doc_id::VARCHAR || 'graftshard'), 1, 8))::BIGINT AS coin
         FROM documents)
         SELECT doc_id, coin % 8 AS shard,
           (row_number() OVER (PARTITION BY coin % 8 ORDER BY coin, doc_id))::BIGINT
             AS pos_in_shard
         FROM c""",
    "llm_dup_spans" ->
      s"""WITH $oDupWin,
         occ AS (SELECT doc_id, pos, pos + 14 AS e FROM cnt WHERE c >= 2),
         $oIslands
         SELECT doc_id, min(pos) AS span_start, max(e) + 1 AS span_end,
           count(*) AS n_windows
         FROM isl GROUP BY doc_id, g""",
    "llm_dup_stats" ->
      s"""WITH $oDupWin,
         occ AS (SELECT doc_id, pos, pos + 14 AS e FROM cnt WHERE c >= 2),
         $oIslands,
         sp AS (SELECT doc_id, min(pos) AS s, max(e) + 1 AS e2 FROM isl GROUP BY doc_id, g),
         dd AS (SELECT doc_id, sum(e2 - s) AS dup FROM sp GROUP BY doc_id)
         SELECT count(*)::BIGINT AS n_docs,
           sum(CASE WHEN dd.dup IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_docs_with_dups,
           sum(coalesce(dd.dup, 0))::BIGINT AS dup_tokens,
           sum(len(tok.t))::BIGINT AS total_tokens,
           round(sum(coalesce(dd.dup, 0))::DOUBLE / sum(len(tok.t)), 6) AS dup_fraction
         FROM tok LEFT JOIN dd USING (doc_id)""",
    "llm_dup_cut" ->
      s"""WITH $oDupWin,
         dup AS (SELECT doc_id, pos, w FROM cnt WHERE c >= 2),
         canon AS (SELECT w, min(doc_id) AS md FROM dup GROUP BY w),
         canon2 AS (SELECT d.w, c.md, min(d.pos) AS mp FROM dup d
                    JOIN canon c ON d.w = c.w AND d.doc_id = c.md GROUP BY d.w, c.md),
         occ AS (SELECT d.doc_id, d.pos, d.pos + 14 AS e FROM dup d
                 JOIN canon2 c ON d.w = c.w
                 WHERE NOT (d.doc_id = c.md AND d.pos = c.mp)),
         $oIslands,
         spans AS (SELECT doc_id, min(pos) AS s, max(e) AS me FROM isl GROUP BY doc_id, g),
         cutpos AS (SELECT doc_id, unnest(generate_series(s, me)) AS pos FROM spans),
         postok AS (SELECT doc_id, len(t) AS n, i AS pos, t[i+1] AS tk
                    FROM tok, UNNEST(generate_series(0, len(t) - 1)) AS u(i)
                    WHERE len(t) > 0),
         surv AS (SELECT p.doc_id, p.pos, p.tk, p.n FROM postok p
                  LEFT JOIN cutpos c ON c.doc_id = p.doc_id AND c.pos = p.pos
                  WHERE c.pos IS NULL),
         cleaned AS (SELECT doc_id, string_agg(tk, ' ' ORDER BY pos) AS clean_text,
                       max(n) - count(*) AS n_cut FROM surv GROUP BY doc_id)
         SELECT t.doc_id, coalesce(c.clean_text, '') AS clean_text,
           CAST(coalesce(c.n_cut, len(t.t)) AS BIGINT) AS n_cut
         FROM tok t LEFT JOIN cleaned c USING (doc_id)""",
    "llm_bm25" ->
      s"""WITH tok AS (SELECT doc_id, $oTok AS t FROM documents),
         stats AS (SELECT count(*)::DOUBLE AS n, avg(len(t))::DOUBLE AS avgdl FROM tok),
         ex AS (SELECT doc_id, len(t)::DOUBLE AS dl, unnest(t) AS term FROM tok),
         tf AS (SELECT doc_id, dl, term, count(*)::DOUBLE AS tf FROM ex
                WHERE term IN ('scan', 'merge', 'window') GROUP BY doc_id, dl, term),
         dfreq AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tf GROUP BY term)
         SELECT doc_id,
           round(sum(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5)) * tf.tf * 2.2
             / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / s.avgdl))), 6) AS score
         FROM tf JOIN dfreq d USING (term) CROSS JOIN stats s
         GROUP BY doc_id""",
    "llm_vocab_topk" ->
      s"""WITH tok AS (SELECT $oTok AS t FROM documents),
         bg AS (SELECT unnest(CASE WHEN len(t) < 2 THEN [array_to_string(t, ' ')]
                  ELSE list_transform(generate_series(0, len(t) - 2),
                    i -> concat_ws(' ', t[i+1], t[i+2])) END) AS bigram FROM tok)
         SELECT bigram, count(*) AS freq FROM bg GROUP BY bigram
         ORDER BY freq DESC, bigram LIMIT 100""",
    "llm_corpus_select" ->
      s"""WITH corpus AS ($oCorpus),
         q AS (SELECT doc_id, text,
             $oQuality AS quality,
             ($oNTok) AS n_tokens,
             min(doc_id) OVER (PARTITION BY md5(text)) AS canon
           FROM corpus),
         ev AS ($oEvalPrefix),
         evg AS (SELECT DISTINCT unnest($oGram5) AS g FROM ev),
         tr AS (SELECT doc_id, unnest(list_distinct($oGram5)) AS g FROM corpus),
         cont AS (SELECT DISTINCT tr.doc_id FROM tr JOIN evg ON tr.g = evg.g)
         SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, quality
         FROM q
         WHERE doc_id = canon AND quality >= 1.0 AND n_tokens BETWEEN 20 AND 1000
           AND doc_id NOT IN (SELECT doc_id FROM cont)""",
    "llm_ngram_jaccard" ->
      s"""WITH sh AS (
           SELECT doc_id, list_distinct(CASE WHEN len($oTok) < 3 THEN [array_to_string($oTok, ' ')]
             ELSE list_transform(generate_series(0, len($oTok) - 3),
               i -> concat_ws(' ', ($oTok)[i+1], ($oTok)[i+2], ($oTok)[i+3])) END) AS shingles
           FROM documents)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
                 / len(list_distinct(list_concat(a.shingles, b.shingles))), 6) AS jaccard
         FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1""",
    "llm_embed_decontaminate" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS tv FROM embeddings),
         ev AS (SELECT vec_id + 100000 AS eid,
                  [tv[1] * 1.05 + 0.01] || tv[2:] AS evv
                FROM base WHERE vec_id % 10 = 0),
         s AS (SELECT b.vec_id, ev.eid,
                 round(list_cosine_similarity(b.tv, ev.evv), 6) AS c
               FROM base b CROSS JOIN ev),
         r AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, eid) AS rk
               FROM s)
         SELECT vec_id, eid AS nearest_eval_id, c AS max_cos, c >= 0.95 AS contaminated
         FROM r WHERE rk = 1""",
    "llm_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                    FROM embeddings WHERE vec_id < 5),
         s AS (SELECT q.query_id, e.vec_id,
                 round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS cosine
               FROM embeddings e CROSS JOIN q),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank FROM s)
         SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 5""",
    "mm_features" ->
      """SELECT doc_id AS media_id,
           CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
           length(text)::BIGINT AS n_bytes
         FROM documents""",
    "mm_frames" ->
      """SELECT doc_id AS media_id, unnest(generate_series(0, 3)) AS frame_idx,
           CAST(floor(unnest(generate_series(0, 3)) / 4.0 * (n_chars * 10)) AS BIGINT) AS offset_ms
         FROM documents WHERE doc_id % 3 = 2""",
    "llm_pii_scrub" ->
      """SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(
             text || ' contact user' || doc_id || '@example.com from 10.0.0.'
                  || (doc_id % 256) || ' id 9988776655' || doc_id,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
             '\b\d{9,}\b', '<NUM>', 'g') AS clean
         FROM documents""",
    "llm_repetition" ->
      s"""WITH sh AS (
           SELECT doc_id, CASE WHEN len($oTok) < 3 THEN [array_to_string($oTok, ' ')]
             ELSE list_transform(generate_series(0, len($oTok) - 3),
               i -> concat_ws(' ', ($oTok)[i+1], ($oTok)[i+2], ($oTok)[i+3])) END AS g
           FROM documents)
         SELECT doc_id,
           round(CASE WHEN len(g) <= 0 THEN 0.0
                 ELSE 1.0 - len(list_distinct(g))::DOUBLE / len(g) END, 6) AS rep3
         FROM sh""",
    "llm_paragraph_dedup" ->
      """WITH synth AS (
           SELECT doc_id, [
             CASE WHEN len(string_split(text, ' ')) <= 12 THEN text
                  ELSE array_to_string(string_split(text, ' ')[1:12], ' ') END,
             'subscribe to our newsletter for updates',
             CASE WHEN len(string_split(text, ' ')) <= 12 THEN text
                  ELSE array_to_string(string_split(text, ' ')[len(string_split(text, ' '))-11:len(string_split(text, ' '))], ' ') END
           ] AS paras FROM documents),
         px AS (SELECT doc_id, generate_subscripts(paras, 1) - 1 AS para_idx,
                  unnest(paras) AS para FROM synth),
         f AS (SELECT doc_id, para_idx, para,
                 row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, para_idx) AS rn
               FROM px WHERE length(trim(para)) > 0)
         SELECT doc_id, para_idx, para FROM f WHERE rn = 1""",
    "llm_unigram_logprob" -> {
      s"""WITH tok AS (SELECT doc_id, unnest($oTok) AS tok FROM documents),
         vocab AS (SELECT tok, count(*) AS tf FROM tok GROUP BY tok),
         tot AS (SELECT sum(tf)::DOUBLE AS n FROM vocab)
         SELECT tok.doc_id, round(avg(log10(vocab.tf / tot.n)), 6) AS avg_logprob,
           count(*)::BIGINT AS n_tokens
         FROM tok JOIN vocab USING (tok) CROSS JOIN tot
         GROUP BY tok.doc_id"""
    },
    "llm_pack_sequences" ->
      """WITH tok AS (
           SELECT doc_id, doc_id % 8 AS shard,
             (CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END)::BIGINT AS n_tokens
           FROM documents)
         SELECT doc_id, shard, CAST(floor(
             (sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
             / 512.0) AS BIGINT) AS pack_id,
           n_tokens
         FROM tok""",
    "llm_sample_mix" ->
      """SELECT doc_id, lang FROM documents
         WHERE ('0x' || substr(md5(doc_id::VARCHAR || 'graft'), 1, 8))::BIGINT
           < CAST(floor((CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25
                         WHEN 'fr' THEN 1.0 ELSE 0.1 END) * 4294967296.0) AS BIGINT)""",
    "llm_decontaminate" ->
      s"""WITH ev AS ($oEvalPrefix),
         evg AS (SELECT DISTINCT unnest($oGram5) AS g FROM ev),
         tr AS (SELECT doc_id, unnest(list_distinct($oGram5)) AS g FROM documents)
         SELECT tr.doc_id, count(*)::BIGINT AS n_overlap
         FROM tr JOIN evg ON tr.g = evg.g
         GROUP BY tr.doc_id""",
    "llm_dsir" ->
      s"""WITH ct AS (SELECT doc_id, unnest($oTok) AS tok FROM documents),
         cf AS (SELECT tok, count(*) AS cf FROM ct GROUP BY tok),
         ctot AS (SELECT sum(cf)::DOUBLE AS t, count(*)::DOUBLE AS v FROM cf),
         tt AS (SELECT unnest($oTok) AS tok FROM documents WHERE doc_id % 7 = 0),
         tf AS (SELECT tok, count(*) AS tft FROM tt GROUP BY tok)
         SELECT ct.doc_id,
           round(avg(log10((coalesce(tf.tft, 0) + 1) / (
               (SELECT coalesce(sum(tft), 0)::DOUBLE FROM tf) + ctot.v))
             - log10(cf.cf / ctot.t)), 6) AS dsir_logratio,
           count(*)::BIGINT AS n_tokens
         FROM ct JOIN cf USING (tok) LEFT JOIN tf USING (tok) CROSS JOIN ctot
         GROUP BY ct.doc_id
         ORDER BY dsir_logratio DESC, ct.doc_id LIMIT 100""",
    "llm_dup_spans_skew" ->
      """WITH ids AS (SELECT unnest(generate_series(doc_id * 20, doc_id * 20 + 19)) AS id
                      FROM documents)
         SELECT id AS doc_id, 0::BIGINT AS span_start, 15::BIGINT AS span_end,
           1::BIGINT AS n_windows
         FROM ids WHERE id % 2 = 0""",
    // the DSIR factor is the HASHED feature space (llm_dsir_hashed's CTE
    // chain over the planted corpus — same oFeats fragment, same
    // first-8-md5-hex mod-10000 bucketing), not the unigram raw-token
    // join (round-13 verdict: this composition must not re-import the
    // vocabulary-shuffle shape the hashed variant exists to replace)
    "llm_weighted_mix" ->
      s"""WITH corpus AS ($oCorpus),
         d AS (SELECT doc_id, text, md5(text) AS dg FROM corpus),
         dc AS (SELECT dg, count(*) AS dup_cnt FROM d GROUP BY dg),
         tok AS (SELECT doc_id, $oTok AS t FROM corpus),
         cb AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 8))::BIGINT % 10000 AS b
                FROM (SELECT doc_id, unnest($oFeats) AS g FROM tok)),
         cf AS (SELECT b, count(*) AS cf FROM cb GROUP BY b),
         ctot AS (SELECT sum(cf)::DOUBLE AS t FROM cf),
         ttok AS (SELECT doc_id, $oTok AS t FROM documents WHERE doc_id % 7 = 0),
         tb AS (SELECT ('0x' || substr(md5(g), 1, 8))::BIGINT % 10000 AS b
                FROM (SELECT unnest($oFeats) AS g FROM ttok)),
         tf AS (SELECT b, count(*) AS tft FROM tb GROUP BY b),
         ttot AS (SELECT coalesce(sum(tft), 0)::DOUBLE AS t FROM tf),
         dsir AS (SELECT cb.doc_id,
             round(avg(log10((coalesce(tf.tft, 0) + 1) / (ttot.t + 10000))
               - log10(cf.cf / ctot.t)), 6) AS r
           FROM cb JOIN cf USING (b) LEFT JOIN tf USING (b)
           CROSS JOIN ctot CROSS JOIN ttot
           GROUP BY cb.doc_id),
         q AS (SELECT doc_id, $oQuality AS quality FROM corpus),
         w AS (SELECT d.doc_id, dc.dup_cnt,
             round((q.quality / 4.0) / dc.dup_cnt
               * (1.0 / (1.0 + exp(-dsir.r))), 6) AS weight
           FROM d JOIN dc USING (dg) JOIN q USING (doc_id) JOIN dsir USING (doc_id))
         SELECT doc_id, dup_cnt::BIGINT AS dup_cnt, weight,
           (CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR || 'graftmix'), 1, 8))::BIGINT
                 < CAST(floor(weight * 4294967296.0) AS BIGINT) THEN 1 ELSE 0 END)::BIGINT AS kept
         FROM w""",
    // FULL oracle for the iterative BPE trainer: 30 chained CTE blocks,
    // one per merge. The greedy left-to-right non-overlapping merge rule
    // is replayed exactly by a global regexp_replace over a
    // '(sym)(sym)…' encoding — delimiters make matches share NO
    // characters, so RE2's non-overlapping global scan IS the BPE apply
    // rule (a space-separated encoding would break on runs like
    // "a a a": the shared separator swallows the next match). Symbols
    // are regex-safe by construction (Dedup.tokens → letters/digits;
    // '</w>' and concatenations thereof contain no RE2 metachars).
    // MATERIALIZED CTEs: each w_k is referenced twice (pair counts +
    // the next merge) — inlined, the scan count doubles per iteration.
    // Argmax ties break (cnt DESC, a, b) = Spark's TakeOrdered on
    // binary UTF-8 order, which equals UTF-16 order on BMP text.
    "llm_bpe_merges" -> {
      oBpeChain(30) + (1 to 30).map(k =>
        s"""SELECT $k::BIGINT AS rank, a AS "left", b AS "right", a || b AS merged, cnt AS freq FROM m$k""")
        .mkString("\n ", "\n UNION ALL ", "")
    },
    // the training chain's final word table joined back onto each doc's
    // token stream in position order — word→subwords is the tokenizer
    "llm_bpe_encode" ->
      s"""${oBpeChain(30)},
         dt AS (SELECT doc_id, i AS pos, t[i+1] AS w
                FROM (SELECT doc_id, $oTok AS t FROM documents),
                     UNNEST(generate_series(0, len(t) - 1)) AS u(i)
                WHERE len(t) >= 1),
         enc AS (SELECT dt.doc_id,
                  string_agg(array_to_string(v.toks, ' '), ' ' ORDER BY dt.pos) AS bpe_text,
                  sum(len(v.toks))::BIGINT AS n_bpe
                 FROM dt JOIN vocabmap v USING (w) GROUP BY dt.doc_id)
         SELECT d.doc_id, coalesce(e.bpe_text, '') AS bpe_text,
           coalesce(e.n_bpe, 0)::BIGINT AS n_bpe
         FROM documents d LEFT JOIN enc e USING (doc_id)""",
    // roundtrip: the oracle NEVER runs the tokenizer — losslessness
    // means decode(encode(text)) == the raw token stream re-joined
    "llm_bpe_roundtrip" ->
      s"""SELECT doc_id, array_to_string($oTok, ' ') AS decoded_text FROM documents""",
    "llm_bpe_encode_bytes" ->
      s"""${oBpeChain(30, byteLevel = true)},
         dt AS (SELECT doc_id, i AS pos, t[i+1] AS w
                FROM (SELECT doc_id, $oTok AS t FROM documents),
                     UNNEST(generate_series(0, len(t) - 1)) AS u(i)
                WHERE len(t) >= 1),
         enc AS (SELECT dt.doc_id,
                  string_agg(array_to_string(v.toks, ' '), ' ' ORDER BY dt.pos) AS bpe_text,
                  sum(len(v.toks))::BIGINT AS n_bpe
                 FROM dt JOIN vocabmap v USING (w) GROUP BY dt.doc_id)
         SELECT d.doc_id, coalesce(e.bpe_text, '') AS bpe_text,
           coalesce(e.n_bpe, 0)::BIGINT AS n_bpe
         FROM documents d LEFT JOIN enc e USING (doc_id)""",
    // GPT-2 mode: the same training-chain replay with the pretoken
    // source swapped to the published regex (space-carrying pretokens,
    // byte alphabet, no marker)
    "llm_bpe_merges_gpt2" -> {
      oBpeChain(30, byteLevel = true, tokSrc = oGpt2Tok) + (1 to 30).map(k =>
        s"""SELECT $k::BIGINT AS rank, a AS "left", b AS "right", a || b AS merged, cnt AS freq FROM m$k""")
        .mkString("\n ", "\n UNION ALL ", "")
    },
    "llm_bpe_encode_gpt2" ->
      s"""${oBpeChain(30, byteLevel = true, tokSrc = oGpt2Tok)},
         dt AS (SELECT doc_id, i AS pos, t[i+1] AS w
                FROM (SELECT doc_id, $oGpt2Tok AS t FROM documents),
                     UNNEST(generate_series(0, len(t) - 1)) AS u(i)
                WHERE len(t) >= 1),
         enc AS (SELECT dt.doc_id,
                  string_agg(array_to_string(v.toks, ' '), ' ' ORDER BY dt.pos) AS bpe_text,
                  sum(len(v.toks))::BIGINT AS n_bpe
                 FROM dt JOIN vocabmap v USING (w) GROUP BY dt.doc_id)
         SELECT d.doc_id, coalesce(e.bpe_text, '') AS bpe_text,
           coalesce(e.n_bpe, 0)::BIGINT AS n_bpe
         FROM documents d LEFT JOIN enc e USING (doc_id)""",
    // GPT-2 roundtrip: pretokens partition the text and carry their own
    // spaces, so decode(encode(text)) must be the DOCUMENT ITSELF — the
    // oracle is the raw text, computed without the tokenizer
    "llm_bpe_roundtrip_gpt2" ->
      "SELECT doc_id, text AS decoded_text FROM documents",
    "llm_bpe_token_stats" ->
      s"""${oBpeChain(30)},
         tok AS (SELECT doc_id, $oTok AS t FROM documents),
         dt AS (SELECT doc_id, unnest(t) AS w FROM tok),
         enc AS (SELECT dt.doc_id, sum(len(v.toks))::BIGINT AS n_bpe
                 FROM dt JOIN vocabmap v USING (w) GROUP BY dt.doc_id)
         SELECT tok.doc_id, len(tok.t)::BIGINT AS n_words,
           coalesce(e.n_bpe, 0)::BIGINT AS n_bpe,
           round(CASE WHEN len(tok.t) = 0 THEN 0.0
                 ELSE coalesce(e.n_bpe, 0)::DOUBLE / len(tok.t) END, 6) AS fertility
         FROM tok LEFT JOIN enc e USING (doc_id)""",
    "llm_bpe_pack" ->
      s"""${oBpeChain(30)},
         dt AS (SELECT doc_id, unnest($oTok) AS w FROM documents),
         enc0 AS (SELECT dt.doc_id, sum(len(v.toks))::BIGINT AS n_tokens
                  FROM dt JOIN vocabmap v USING (w) GROUP BY dt.doc_id),
         enc AS (SELECT d.doc_id, d.doc_id % 8 AS shard,
                  coalesce(e.n_tokens, 0)::BIGINT AS n_tokens
                 FROM documents d LEFT JOIN enc0 e USING (doc_id))
         SELECT doc_id, shard, CAST(floor(
             (sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
             / 512.0) AS BIGINT) AS pack_id,
           n_tokens
         FROM enc""",
    "llm_lm_score" ->
      s"""WITH tok AS (SELECT doc_id, $oTok AS t FROM documents),
         uf AS (SELECT ('0x' || substr(md5(w), 1, 8))::BIGINT % 10000 AS b,
                  count(*) AS uc
                FROM (SELECT unnest(t) AS w FROM tok) GROUP BY 1),
         utot AS (SELECT sum(uc)::DOUBLE AS t FROM uf),
         occ AS (SELECT doc_id,
                  ('0x' || substr(md5(concat_ws(' ', t[i+1], t[i+2])), 1, 8))::BIGINT % 10000 AS bb,
                  ('0x' || substr(md5(t[i+1]), 1, 8))::BIGINT % 10000 AS b1,
                  ('0x' || substr(md5(t[i+2]), 1, 8))::BIGINT % 10000 AS b2
                 FROM tok, UNNEST(generate_series(0, len(t) - 2)) AS u(i)
                 WHERE len(t) >= 2),
         bf AS (SELECT bb AS b, count(*) AS bc FROM occ GROUP BY bb)
         SELECT occ.doc_id,
           round(avg(log10(0.7 * ((coalesce(bf.bc, 0) + 1) / (coalesce(u1.uc, 0) + 10000.0))
             + (1 - 0.7) * ((coalesce(u2.uc, 0) + 1) / (utot.t + 10000)))), 6) AS lm_score,
           count(*)::BIGINT AS n_bigrams
         FROM occ LEFT JOIN bf ON occ.bb = bf.b
         LEFT JOIN uf u1 ON occ.b1 = u1.b
         LEFT JOIN uf u2 ON occ.b2 = u2.b
         CROSS JOIN utot
         GROUP BY occ.doc_id""",
    "llm_dsir_hashed" ->
      s"""WITH tok AS (SELECT doc_id, $oTok AS t FROM documents),
         cb AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 8))::BIGINT % 10000 AS b
                FROM (SELECT doc_id, unnest($oFeats) AS g FROM tok)),
         cf AS (SELECT b, count(*) AS cf FROM cb GROUP BY b),
         ctot AS (SELECT sum(cf)::DOUBLE AS t FROM cf),
         tb AS (SELECT ('0x' || substr(md5(g), 1, 8))::BIGINT % 10000 AS b
                FROM (SELECT unnest($oFeats) AS g FROM tok WHERE doc_id % 7 = 0)),
         tf AS (SELECT b, count(*) AS tft FROM tb GROUP BY b),
         ttot AS (SELECT coalesce(sum(tft), 0)::DOUBLE AS t FROM tf)
         SELECT cb.doc_id,
           round(avg(log10((coalesce(tf.tft, 0) + 1) / (ttot.t + 10000))
             - log10(cf.cf / ctot.t)), 6) AS dsir_logratio,
           count(*)::BIGINT AS n_feats
         FROM cb JOIN cf USING (b) LEFT JOIN tf USING (b) CROSS JOIN ctot CROSS JOIN ttot
         GROUP BY cb.doc_id
         ORDER BY dsir_logratio DESC, cb.doc_id LIMIT 100""",
    "llm_decontaminate_cut" ->
      s"""WITH tok AS (SELECT doc_id, $oTok AS t FROM documents),
         ev AS ($oEvalPrefix),
         evt AS (SELECT $oTok AS t FROM ev),
         evw AS (SELECT DISTINCT array_to_string(t[i+1:i+5], ' ') AS w
                 FROM evt, UNNEST(generate_series(0, len(t) - 5)) AS u(i)
                 WHERE len(t) >= 5),
         win AS (SELECT doc_id, i AS pos, array_to_string(t[i+1:i+5], ' ') AS w
                 FROM tok, UNNEST(generate_series(0, len(t) - 5)) AS u(i)
                 WHERE len(t) >= 5),
         occ AS (SELECT doc_id, pos, pos + 4 AS e FROM win JOIN evw USING (w)),
         $oIslands,
         spans AS (SELECT doc_id, min(pos) AS s, max(e) AS me FROM isl GROUP BY doc_id, g),
         cutpos AS (SELECT doc_id, unnest(generate_series(s, me)) AS pos FROM spans),
         postok AS (SELECT doc_id, len(t) AS n, i AS pos, t[i+1] AS tk
                    FROM tok, UNNEST(generate_series(0, len(t) - 1)) AS u(i)
                    WHERE len(t) > 0),
         surv AS (SELECT p.doc_id, p.pos, p.tk, p.n FROM postok p
                  LEFT JOIN cutpos c ON c.doc_id = p.doc_id AND c.pos = p.pos
                  WHERE c.pos IS NULL),
         cleaned AS (SELECT doc_id, string_agg(tk, ' ' ORDER BY pos) AS clean_text,
                       max(n) - count(*) AS n_cut FROM surv GROUP BY doc_id)
         SELECT t.doc_id, coalesce(c.clean_text, '') AS clean_text,
           CAST(coalesce(c.n_cut, len(t.t)) AS BIGINT) AS n_cut
         FROM tok t LEFT JOIN cleaned c USING (doc_id)""",
    "mm_decode_bmp" ->
      """SELECT c_custkey AS media_id, 2::BIGINT AS w, 2::BIGINT AS h,
           round((((c_custkey*37 + 0) % 256)/255.0 + ((c_custkey*37 + 4) % 256)/255.0
                 + ((c_custkey*37 + 16) % 256)/255.0 + ((c_custkey*37 + 20) % 256)/255.0) / 4.0, 6) AS mean_b,
           round((((c_custkey*37 + 1) % 256)/255.0 + ((c_custkey*37 + 5) % 256)/255.0
                 + ((c_custkey*37 + 17) % 256)/255.0 + ((c_custkey*37 + 21) % 256)/255.0) / 4.0, 6) AS mean_g,
           round((((c_custkey*37 + 2) % 256)/255.0 + ((c_custkey*37 + 6) % 256)/255.0
                 + ((c_custkey*37 + 18) % 256)/255.0 + ((c_custkey*37 + 22) % 256)/255.0) / 4.0, 6) AS mean_r
         FROM customer""",
    // PNG is lossless and the pixel formula matches syntheticBmp → the
    // oracle is the same channel arithmetic
    "mm_decode_png" ->
      """SELECT c_custkey AS media_id, 2::BIGINT AS w, 2::BIGINT AS h,
           round((((c_custkey*37 + 0) % 256)/255.0 + ((c_custkey*37 + 4) % 256)/255.0
                 + ((c_custkey*37 + 16) % 256)/255.0 + ((c_custkey*37 + 20) % 256)/255.0) / 4.0, 6) AS mean_b,
           round((((c_custkey*37 + 1) % 256)/255.0 + ((c_custkey*37 + 5) % 256)/255.0
                 + ((c_custkey*37 + 17) % 256)/255.0 + ((c_custkey*37 + 21) % 256)/255.0) / 4.0, 6) AS mean_g,
           round((((c_custkey*37 + 2) % 256)/255.0 + ((c_custkey*37 + 6) % 256)/255.0
                 + ((c_custkey*37 + 18) % 256)/255.0 + ((c_custkey*37 + 22) % 256)/255.0) / 4.0, 6) AS mean_r
         FROM customer""",
    // same pixel formula as the Spark-side GIF synthesizer, plus the
    // per-frame term f*53; frames per doc = 2 + doc_id % 3
    "mm_frames_gif" -> {
      def chan(c: Int) = (for (y <- 0 to 1; x <- 0 to 1)
        yield s"((doc_id*37 + frame_idx*53 + ${y * 16 + x * 4 + c}) % 256)/255.0")
        .mkString("(", " + ", ")")
      s"""WITH f AS (
           SELECT doc_id, unnest(generate_series(0, (1 + doc_id % 3)::INT)) AS frame_idx
           FROM documents)
         SELECT doc_id AS media_id, frame_idx::INTEGER AS frame_idx,
           2::BIGINT AS w, 2::BIGINT AS h,
           round(${chan(0)} / 4.0, 6) AS mean_b,
           round(${chan(1)} / 4.0, 6) AS mean_g,
           round(${chan(2)} / 4.0, 6) AS mean_r
         FROM f"""
    },
    // identical pixel/frame arithmetic — raw-DIB AVI frames are lossless
    // like GIF palettes, so the two container paths share one oracle
    "mm_frames_avi" -> {
      def chan(c: Int) = (for (y <- 0 to 1; x <- 0 to 1)
        yield s"((doc_id*37 + frame_idx*53 + ${y * 16 + x * 4 + c}) % 256)/255.0")
        .mkString("(", " + ", ")")
      s"""WITH f AS (
           SELECT doc_id, unnest(generate_series(0, (1 + doc_id % 3)::INT)) AS frame_idx
           FROM documents)
         SELECT doc_id AS media_id, frame_idx::INTEGER AS frame_idx,
           2::BIGINT AS w, 2::BIGINT AS h,
           round(${chan(0)} / 4.0, 6) AS mean_b,
           round(${chan(1)} / 4.0, 6) AS mean_g,
           round(${chan(2)} / 4.0, 6) AS mean_r
         FROM f"""
    }
  )

  /** The streaming twins are DESIGNED to produce identical results to
    * their batch counterparts (stream_corpus_select: doc_id-ordered
    * splits make keep-first == min-per-digest; stream_dup_spans: the
    * cross-batch digest count flags exactly the corpus-wide ≥2 windows),
    * so they share the batch oracles verbatim. */
  val oracle: Map[String, String] =
    oracleBase
      .updated("stream_corpus_select", oracleBase("llm_corpus_select"))
      .updated("stream_dup_spans", oracleBase("llm_dup_spans"))
      .updated("stream_decontaminate_cut", oracleBase("llm_decontaminate_cut"))
      .updated("stream_lm_score", oracleBase("llm_lm_score"))
      .updated("stream_bpe_encode", oracleBase("llm_bpe_encode"))
      .updated("stream_bpe_encode_gpt2", oracleBase("llm_bpe_encode_gpt2"))
      .updated("stream_semdedup_q", oracleBase("llm_semdedup_q"))
      .updated("stream_semdedup_hq", oracleBase("llm_semdedup_hq"))
      .updated("stream_embed_decontaminate", oracleBase("llm_embed_decontaminate"))
}
