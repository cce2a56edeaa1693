package graft

import graft.core.{Flow, Tables}
import graft.operators.Processors
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps one entry per implemented operator (SURVEY §2) to a
  * DataFrame program built from the graft library; `oracleSql` holds the
  * DuckDB-equivalent SQL for every hash-checkable query (others get the
  * weaker rows-only check and a ScalaTest gate instead).
  */
object SparkEntry {

  /** The local session every main and the test harness runs on:
    * `local[cpus]` with one shuffle partition per core, UTC session time,
    * nanosecond parquet timestamps read as longs (see
    * [[graft.core.Tables]]) and no UI. Log level and UDF registration
    * stay with the caller. */
  def localSession(cpus: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** Flagship query (driver smoke, sf0.001): the Flow-DSL pipeline form of
    * the TPC-H Q3-flavor join/agg/top-k. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    Flow(Tables(spark, dir, "lineitem"))
      .map(_.join(Tables(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")),
          col("o_custkey") === col("c_custkey")))
      .pipe(Processors.mutation("disc_price" ->
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))))
      .map(_.groupBy("o_orderkey")
        .agg(sum(col("disc_price").cast(DecimalType(18, 4))).cast(DoubleType).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10))
      .result
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    QueriesCore.queries ++ QueriesLlm.queries ++ QueriesBlob.queries ++
      QueriesProc.queries ++ QueriesExt.queries

  /** DuckDB-equivalent ANSI SQL per query (hash-checked by the driver). */
  def oracleSql: Map[String, String] =
    QueriesCore.oracle ++ QueriesLlm.oracle ++ QueriesBlob.oracle ++
      QueriesProc.oracle ++ QueriesExt.oracle

  /** Headline queries timed by [[Bench]] (BENCH_r{N}.json). */
  val benchQueries: Seq[String] = Seq(
    "agg_q1", "join_topk", "agg_group_nation", "window_rank", "win_tumbling",
    "proc_dedupe", "llm_quality", "llm_minhash_pairs", "llm_cosine_topk",
    "llm_fingerprint", "llm_simhash_pairs", "llm_embed_pairs", "win_sliding",
    "proc_branch",
    // round-2 surface: batch policy (window), nlp (mapPartitions batch
    // inference), wire codec (udf round-trip), config-text pipeline
    "batch_count", "nlp_classify", "codec_protobuf", "config_pipeline",
    // round-2 late additions: broadcast decontamination, two-pass unigram
    // LM, sharded sequence packing
    "llm_decontaminate", "llm_unigram_logprob", "llm_pack_sequences",
    // round 4: the streaming identity query (readStream → window agg →
    // AvailableNow) — times the full micro-batch lifecycle
    "stream_win_tumbling",
    // round 5: append+watermark streaming, and the re-shaped bounded-batch
    // parquet codec (the round-4 scale-killer — keep it honest in the bench)
    "stream_win_append", "codec_parquet",
    // round 5 late: IVF ANN (centroid train + probe), AVI frame decode
    // (container walk in mapPartitions), trained-embedding inference, and
    // cross-batch streaming dedupe state
    "llm_ann_ivf", "mm_frames_avi", "nlp_embed", "stream_dedupe",
    // round 5 late: janino-compiled user-code processor (per-row bytecode,
    // the javascript-processor analog)
    "proc_java",
    // round 5 late: .proto-file-driven codec (full proto3 parse + dynamic
    // wire codec + protojson, nested/repeated/map surface)
    "codec_proto_file",
    // round 5 late: redis family over the from-scratch RESP protocol —
    // times the per-partition client lifecycle (SADD fan-in + SCARD)
    "proc_redis",
    // round 5 late: NATS request/reply — per-row RPC through queue-group
    // responders, the costliest external-call shape worth watching
    "proc_nats_rr",
    // round 5 late: kafka round-trip over the from-scratch wire protocol —
    // chunked partition-routed produce + per-partition fetch cursors
    // (negotiates record-batch v2 since round 6)
    "src_kafka",
    // round 6: the compiled geoip twin (broadcast bucketized range join)
    // and the period batch policy (pure-Column tumbling assignment)
    "proc_geoip_city2", "batch_period",
    // round 7: the python guest runtime (out-of-process interpreter pool,
    // one per partition, line-framed JSON) and the in-repo ES5.1-subset
    // javascript interpreter — watch beside proc_java/wasm
    "proc_python", "proc_javascript",
    // round 6 late: per-row WebAssembly interpretation (the guest-runtime
    // escape hatch beside proc_java) and the SSH2/SFTP connector
    // round-trip (32 concurrent curve25519 handshakes + windowed
    // transfers — times the per-partition secure-channel lifecycle)
    "proc_wasm", "src_sftp",
    // round 6 cloud block: S3 round-trip (SigV4-signed per-partition
    // uploads + listed-then-distributed downloads), Kinesis round-trip
    // (hash-range routed produce + per-shard cursors), and the firehose
    // buffer→S3-delivery→distributed-scan composition
    "src_aws_s3", "src_aws_kinesis", "out_aws_firehose",
    // round 6 datastore wave: BSON/OP_MSG round-trip, bulk-NDJSON with
    // all four actions, and the protobuf-framed pulsar produce/consume
    "src_mongodb", "out_elasticsearch", "src_pulsar",
    // round 6 late: two-member consumer-group drain (join/sync/commit
    // coordination + concurrent fetch) — the reference's consumption mode
    "src_kafka_group",
    // round 9: the Snowplow enriched-TSV processor (131-column split +
    // iglu JSON walks + flattened-json UDF), the executor-side streaming
    // multipart S3 output, and the two gRPC-stack GCP outputs (bulk
    // MutateRows; bidi AppendRows) — the round's heavy new rows
    "proc_opensnowcat", "out_aws_s3_stream", "out_gcp_bigtable",
    "out_gcp_bq_write",
    // round 10: the streaming twins of the two natural streaming sinks
    // (micro-batched foreachBatch → multipart / AppendRows) and the
    // jaeger tracer's compact-thrift UDP export path
    "stream_out_s3", "stream_out_bq_write", "trace_jaeger",
    // round 11: dedup resolution — iterative connected components over
    // the near-dup pair graph (path-doubling min-label, log-depth
    // shuffle rounds; times the iterative-DataFrame loop shape)
    "llm_dedup_resolve",
    // round 11 late: substring-level span dedup (every-offset windowing —
    // the corpus's heaviest explode; times generator + two window-function
    // shuffles), its CUT step (canonical selection + anti-join rebuild),
    // and the end-to-end corpus-selection composition (digest window +
    // quality/token bands + decontamination anti-join in one plan)
    "llm_dup_spans", "llm_dup_cut", "llm_corpus_select",
    // round 12: the streaming span-dedup twin (cross-batch digest state +
    // batch compaction), the skew-proof two-phase rank (times the
    // range-partition + offset-broadcast machinery next to window_rank),
    // span-level decontamination (broadcast gram match + anti-join
    // rebuild — the surgical variant of llm_decontaminate), and
    // DSIR-flavor target-domain selection (double word-count + vocab join)
    "stream_dup_spans", "window_rank_scaled", "llm_decontaminate_cut",
    "llm_dsir",
    // round 12 late: the stateless streaming class (broadcast side data +
    // row-local transform, no state store) next to the keyed-state twins
    "stream_decontaminate_cut",
    // round 13: the degenerate-corpus skew row (SkewProbe promoted into
    // the bench — holds the de-skew property round-over-round), hashed-
    // feature DSIR (bounded-bucket broadcast join, the de-hot-keyed
    // scale shape), SemDeDup semantic dedup (k-means cells + within-cell
    // prune), and the weighted-mix soft-dedup composition
    "llm_dup_spans_skew", "llm_dsir_hashed", "llm_semdedup",
    "llm_weighted_mix",
    // round 13 late: deterministic global shuffle + shard assignment —
    // scalableRowNumber in its production role (few huge shards) — and
    // the hashed bigram LM quality filter (bounded-bucket broadcast
    // shape, the perplexity-flavor complement to llm_quality)
    "llm_shard_shuffle", "llm_lm_score",
    // round 13 late: the frozen-model streaming scorer (foreachBatch
    // over the shared lmScoreWith pipeline, no state store)
    "stream_lm_score",
    // round 14: perceptual image dedup (real BMP decode → dHash →
    // Hamming-banded pairs — the multimodal column's near-dup
    // granularity), the frozen-centroid streaming SemDeDup twin
    // (row-local assignment + per-cell keyed state), and the streaming
    // perceptual twin (bucket-keyed state, min-matching-block emission)
    "llm_phash_pairs", "stream_semdedup", "stream_phash_pairs",
    // round 14 late: the audio-modality perceptual sibling (gain-invariant
    // energy-difference hash over the real PCM decode, same banding) and
    // BPE tokenizer training (iterative vocab-bounded merge learning)
    "llm_audiohash_pairs", "llm_bpe_merges", "llm_phash_resolve",
    // round 15: tokenizer APPLICATION (broadcast merge table + per-
    // partition word cache — the train→tokenize→pack chain's middle),
    // temporal video perceptual pairs (container walk + per-frame luma
    // fold), the streaming audio twin, and the scale-form radius gate
    "llm_bpe_encode", "llm_vhash_pairs", "stream_audiohash_pairs",
    "llm_phash_pairs_r3", "stream_vhash_pairs",
    // round 15 late: the tokenizer's deployment shape — stateless
    // streaming encode sharing the batch gate's full oracle — and
    // embedding-space decontamination (the semantic complement of the
    // n-gram decontaminate family; broadcast eval + partial-agg argmax)
    "stream_bpe_encode", "llm_embed_decontaminate",
    "stream_embed_decontaminate",
    // round 16: the banded-pairing core under a FULL DuckDB oracle (the
    // r3 batch form — 4x16-bit blocks over SQL-replayable fingerprints),
    // streaming dedup RESOLUTION (incremental union-find over the pair
    // stream), and byte-level BPE encode (the GPT-2-family alphabet)
    "llm_band_pairs", "stream_phash_resolve", "llm_bpe_encode_bytes",
    // round 16 late: the md5-keyed simhash + minhash (vote/min-fold
    // kernels under full oracles — watch beside the xxhash forms)
    "llm_simhash_pairs_md5", "llm_minhash_pairs_md5",
    // round 17: the GPT-2 pre-tokenized byte-level encode (the
    // production-tokenizer mode) and the quantized k-means siblings
    // (full-oracle cell machinery — watch beside the float forms)
    "llm_bpe_encode_gpt2", "llm_semdedup_q", "llm_ann_ivf_q",
    // round 18: the 64-cell quantized semdedup + IVF (the two-level
    // assignment path under FULL oracles — watch beside the 16-cell
    // flat-scan rows)
    "llm_semdedup_hq", "llm_ann_ivf_hq", "stream_semdedup_hq",
    // round 19: the READ-ONLY materialized-index row — ordered AFTER
    // llm_ann_ivf_idx_q so the per-JVM index cache is warm and the row
    // times the partition-pruned read a standing 100 TB index serves
    "llm_ann_ivf_idx_q", "llm_ann_ivf_idx_read",
    // round 19: the stream-built standing index (ingest → partitioned
    // append → pruned serve) and the streaming serve path over it
    "stream_ann_ivf_idx", "stream_ann_serve")
}
