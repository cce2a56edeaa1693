package graft.conn


/** NATS key-value buckets (internal/impl/nats/{input,output,cache,
  * processor}_kv.go — the reference wraps nats.go's KeyValue API),
  * implemented the way the real client layers it: a bucket `B` IS the
  * stream `KV_B` capturing `$KV.B.>`, and every operation is a plain
  * JetStream operation —
  *
  *  - Put      = acked publish to `$KV.B.<key>`; the PubAck stream
  *               sequence IS the revision.
  *  - Create   = publish with `Nats-Expected-Last-Subject-Sequence: 0`
  *               (or the delete-marker's revision when the key was
  *               deleted) — already-exists surfaces as the public
  *               wrong-last-sequence error (err_code 10071).
  *  - Update   = publish with the expected revision — compare-and-set.
  *  - Get      = `$JS.API.STREAM.MSG.GET` last_by_subj; a `KV-Operation:
  *               DEL|PURGE` header on the newest message is a tombstone.
  *  - Delete   = publish an empty payload with `KV-Operation: DEL`
  *               (history preserved); Purge adds `Nats-Rollup: sub`
  *               (history destroyed).
  *  - History  = a filter_subject consumer drained from the start.
  *  - Watch    = a filter_subject consumer, deliver_policy
  *               last_per_subject (snapshot of latest entries, then the
  *               live tail) — input_kv.go's watch shape.
  *  - Keys     = Watch minus tombstones, keys only.
  *
  * All of that rides the from-scratch core-NATS + JetStream layers in
  * [[Nats]] / [[JetStream]]; nothing here touches a socket directly.
  */
object NatsKv {

  final case class Entry(key: String, value: Array[Byte], revision: Long,
                         operation: String /* PUT | DEL | PURGE */)

  private def streamOf(bucket: String) = s"KV_$bucket"
  private def subjOf(bucket: String, key: String) = s"$$KV.$bucket.$key"
  private def keyOf(bucket: String, subject: String) = subject.stripPrefix(s"$$KV.$bucket.")
  private def opOf(headers: Map[String, String]) = headers.getOrElse("KV-Operation", "PUT")

  final class KvClient(url: String, bucket: String) extends AutoCloseable {
    private val js = new JetStream.JsClient(url)
    private val watcherSeq = new java.util.concurrent.atomic.AtomicLong(0)

    /** idempotent bucket creation (nats.go CreateKeyValue) */
    def createBucket(): this.type = {
      js.addStream(streamOf(bucket), Seq(s"$$KV.$bucket.>"))
      this
    }

    /** unconditional put; returns the new revision */
    def put(key: String, value: Array[Byte]): Long =
      js.publish(subjOf(bucket, key), value).seq

    /** create-only: fails with [[JetStream.JsApiError]] (err_code 10071)
      * when the key already holds a LIVE value; succeeds over a delete
      * marker by CAS-ing against the marker's revision (nats.go's
      * Create-after-Delete contract) */
    def create(key: String, value: Array[Byte]): Long = {
      val expected = latest(key) match {
        case None => 0L // never written
        case Some(e) if e.operation != "PUT" => e.revision // tombstone: reclaim
        case Some(e) =>
          throw JetStream.JsApiError(400L, 10071L, s"wrong last sequence: ${e.revision}")
      }
      js.publishH(subjOf(bucket, key), value,
        Map("Nats-Expected-Last-Subject-Sequence" -> expected.toString)).seq
    }

    /** compare-and-set: succeeds only when `key`'s newest revision is
      * exactly `expectedRevision` */
    def update(key: String, value: Array[Byte], expectedRevision: Long): Long =
      js.publishH(subjOf(bucket, key), value,
        Map("Nats-Expected-Last-Subject-Sequence" -> expectedRevision.toString)).seq

    /** newest entry including tombstones (None = never written) */
    def latest(key: String): Option[Entry] =
      js.msgGet(streamOf(bucket), lastBySubj = subjOf(bucket, key)).map { m =>
        Entry(key, m.payload, m.seq, opOf(m.headers))
      }

    /** the live value, None when absent or tombstoned */
    def get(key: String): Option[Entry] = latest(key).filter(_.operation == "PUT")

    /** the value as of a specific revision (processor_kv.go
      * get_revision) — a revision stored under a different key is not
      * this key's and returns None */
    def getRevision(key: String, revision: Long): Option[Entry] =
      js.msgGet(streamOf(bucket), seq = revision)
        .filter(_.subject == subjOf(bucket, key))
        .map(m => Entry(key, m.payload, m.seq, opOf(m.headers)))

    /** delete marker — history preserved (nats.go KeyValue.Delete) */
    def delete(key: String): Long =
      js.publishH(subjOf(bucket, key), Array.emptyByteArray, Map("KV-Operation" -> "DEL")).seq

    /** purge — tombstone plus `Nats-Rollup: sub`, destroying history */
    def purge(key: String): Long =
      js.publishH(subjOf(bucket, key), Array.emptyByteArray,
        Map("KV-Operation" -> "PURGE", "Nats-Rollup" -> "sub")).seq

    private def drain(durable: String, filter: String, maxWaitMs: Int): Vector[Entry] = {
      js.addDurable(streamOf(bucket), durable, filterSubject = filter)
      val out = Vector.newBuilder[Entry]
      var batch = js.fetch(streamOf(bucket), durable, batch = 256, maxWaitMs = maxWaitMs)
      while (batch.nonEmpty) {
        batch.foreach { m =>
          out += Entry(keyOf(bucket, m.subject), m.payload, m.streamSeq, opOf(m.headers))
          js.ack(m)
        }
        batch = js.fetch(streamOf(bucket), durable, batch = 256, maxWaitMs = maxWaitMs)
      }
      out.result()
    }

    /** full history of one key, oldest first (processor_kv.go history) */
    def history(key: String, maxWaitMs: Int = 300): Vector[Entry] =
      drain(s"kvh-${watcherSeq.incrementAndGet()}", subjOf(bucket, key), maxWaitMs)

    /** live keys matching `filter` ('>' = all), tombstones dropped
      * (processor_kv.go keys) */
    def keys(filter: String = ">", maxWaitMs: Int = 300): Vector[String] = {
      val w = watch(filter)
      try Iterator.continually(w.next(maxWaitMs)).takeWhile(_.isDefined).flatten
        .filter(_.operation == "PUT").map(_.key).toVector
      finally w.close()
    }

    /** watch (input_kv.go): snapshot of the newest entry per matching
      * key, then the live tail — a last_per_subject filtered consumer */
    def watch(filter: String = ">"): Watcher = {
      val durable = s"kvw-${watcherSeq.incrementAndGet()}"
      js.addDurable(streamOf(bucket), durable, filterSubject = subjOf(bucket, filter),
        deliverPolicy = "last_per_subject")
      new Watcher(js, streamOf(bucket), bucket, durable)
    }

    override def close(): Unit = js.close()
  }

  /** pull-driven watch cursor: next() returns None once idle past the
    * timeout (caught up), then keeps tailing on later calls */
  final class Watcher(js: JetStream.JsClient, stream: String, bucket: String,
                      durable: String) extends AutoCloseable {
    private val pending = scala.collection.mutable.Queue[Entry]()
    def next(maxWaitMs: Int = 1000): Option[Entry] = {
      if (pending.isEmpty)
        js.fetch(stream, durable, batch = 64, maxWaitMs = maxWaitMs).foreach { m =>
          pending += Entry(m.subject.stripPrefix(s"$$KV.$bucket."), m.payload,
            m.streamSeq, m.headers.getOrElse("KV-Operation", "PUT"))
          js.ack(m)
        }
      if (pending.isEmpty) None else Some(pending.dequeue())
    }
    override def close(): Unit = ()
  }

  /** cache_kv.go mapped onto the repo's KvBackend verb set: Get/Set/
    * Add(Create)/Delete — Add=false on a live key, the ErrKeyAlreadyExists
    * mapping (cache_kv.go:147-155); TTLs are bucket-level in NATS KV and
    * ignored per entry, like the reference (`_ *time.Duration`). */
  final class Cache(url: String, bucket: String)
      extends graft.operators.CacheBackends.KvBackend {
    private val kv = new KvClient(url, bucket).createBucket()
    def get(key: String): Option[Array[Byte]] = kv.get(key).map(_.value)
    def set(key: String, value: Array[Byte], ttlMs: Long = 0): Unit = { kv.put(key, value); () }
    def add(key: String, value: Array[Byte], ttlMs: Long = 0): Boolean =
      try { kv.create(key, value); true }
      catch { case e: JetStream.JsApiError if e.errCode == 10071L => false }
    def delete(key: String): Unit = { kv.delete(key); () }
    override def close(): Unit = kv.close()
  }
}
