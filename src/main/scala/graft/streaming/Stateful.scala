package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Stateful streaming operators as first-class library ops (SURVEY §2.8:
  * caches/counters; reference: bloblang `count()`/`counter()` —
  * query/functions.go:285, bloblang_general.go:16; TTL caches —
  * impl/pure/cache_ttlru.go; dedupe — processor_dedupe.go).
  *
  * All state lives in Spark's state store (RocksDB/HDFS-backed on a real
  * cluster), keyed and partitioned — the reference's single-process
  * in-memory caches become distributed keyed state with checkpointing.
  */
object Stateful {

  /** `count("name")` / `counter()`: a running per-key counter. Each
    * micro-batch emits (key, countSoFar) updates. Keys partition across
    * executors; there is no global total order — the documented semantics
    * delta vs the reference's single-threaded counter (SURVEY §7.3). */
  def runningCount(df: DataFrame, keyCol: String): Dataset[(String, Long)] = {
    implicit val enc: Encoder[String] = Encoders.STRING
    implicit val encL: Encoder[Long] = Encoders.scalaLong
    implicit val tup: Encoder[(String, Long)] = Encoders.tuple(Encoders.STRING, Encoders.scalaLong)
    df.select(col(keyCol).cast("string")).as[String]
      .groupByKey(identity)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[String], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          (key, n)
      }
  }

  /** Running aggregate with arbitrary state: the general
    * `mapGroupsWithState` shape behind `cache_set`-style accumulation. */
  def runningFold[S: Encoder, O: Encoder](df: DataFrame, keyCol: String)(
      init: S)(fold: (S, Iterator[String]) => S)(emit: (String, S) => O): Dataset[O] = {
    implicit val enc: Encoder[String] = Encoders.STRING
    df.select(col(keyCol).cast("string")).as[String]
      .groupByKey(identity)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[String], state: GroupState[S]) =>
          val s = fold(state.getOption.getOrElse(init), rows)
          state.update(s)
          emit(key, s)
      }
  }

  /** TTL cache semantics (`cache` with ttl / `cache_ttlru`): per-key
    * last-written value with processing-time expiry. Emits (key, value,
    * expired=false) on writes; on timeout the key emits a tombstone
    * (key, null, expired=true) and state clears — the streaming analog of
    * TTL eviction. */
  def ttlLastValue(df: DataFrame, keyCol: String, valueCol: String,
                   ttlMs: Long): Dataset[(String, String, Boolean)] = {
    implicit val encS: Encoder[String] = Encoders.STRING
    implicit val tup2: Encoder[(String, String)] =
      Encoders.tuple(Encoders.STRING, Encoders.STRING)
    implicit val tup3: Encoder[(String, String, Boolean)] =
      Encoders.tuple(Encoders.STRING, Encoders.STRING, Encoders.scalaBoolean)
    df.select(col(keyCol).cast("string"), col(valueCol).cast("string"))
      .as[(String, String)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.ProcessingTimeTimeout()) {
        (key: String, rows: Iterator[(String, String)], state: GroupState[String]) =>
          if (state.hasTimedOut) {
            state.remove()
            (key, null: String, true)
          } else {
            val last = rows.foldLeft(state.getOption.orNull) { (_, r) => r._2 }
            state.update(last)
            state.setTimeoutDuration(ttlMs)
            (key, last, false)
          }
      }
  }

  /** Streaming dedupe within a watermark (processor_dedupe.go streaming
    * flavor): event-time bounded state, exact within the horizon. */
  def dedupeWithinWatermark(df: DataFrame, tsCol: String, watermark: String,
                            keys: Seq[String]): DataFrame =
    df.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)
}
