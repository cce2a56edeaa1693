package graft.conn

import java.io.{DataInputStream, DataOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.CRC32

import scala.collection.mutable

/** Kafka wire protocol (internal/impl/kafka/: the reference's flagship
  * input/output family wraps sarama/franz-go; no kafka broker, client
  * library, or spark-sql-kafka jar exists in this sandbox) — both ends
  * from the PUBLIC Apache Kafka protocol specification, the established
  * from-scratch precedent ([[Ws]]/[[Resp]]/[[Nats]]/[[Mqtt]]/[[Amqp]]).
  *
  * Implemented at protocol version 0 (documented stable wire format):
  * length-prefixed request frames `api_key api_version correlation_id
  * client_id body`, correlation-echoed responses, and the APIs the
  * connector surface needs — Metadata (3), Produce (0) with required
  * acks, Fetch (1) with per-partition offsets and high watermark. The
  * MessageSet codec is byte-exact per the spec: `offset(8) size(4)
  * crc32(4) magic(1) attributes(1) key(bytes) value(bytes)` with the
  * CRC over magic..value — [[messageSetBytes]]/[[readMessageSet]] are
  * pure functions unit-tested against hand-computed vectors.
  *
  * Partitioning is the real Kafka contract: a topic is N independent
  * ordered logs; producers pick the partition, consumers own
  * (partition, offset) cursors. The Spark operator layer maps exactly
  * onto that — one producer client per Spark partition, and one FETCH
  * CURSOR PER KAFKA PARTITION running executor-side, which is the same
  * parallelism shape as Spark's own kafka source (1 task per topic
  * partition). Declared out: consumer groups/rebalancing (Spark owns
  * offsets via checkpoints — the same reason its kafka source commits
  * nothing), idempotent/transactional produce, SASL/TLS, compression
  * codecs inside batches.
  *
  * Round 6 adds the modern **record-batch v2** codec (magic 2 — what
  * every broker since 0.11 actually speaks, the reference's franz-go
  * default): zigzag-varint records with headers and timestamp deltas,
  * CRC32C over attributes..end, carried by Produce v3 / Fetch v4 frames.
  * The client NEGOTIATES via ApiVersions (18): against a modern broker it
  * produces/fetches v2 batches, against a legacy one it falls back to the
  * v0 MessageSet — both codecs pinned by hand-computed vectors in
  * KafkaSpec.
  */
object Kafka {

  // ---------------------------------------------------------- primitives

  final class W {
    private val bo = new java.io.ByteArrayOutputStream()
    private val d = new DataOutputStream(bo)
    def i8(v: Int): W = { d.writeByte(v); this }
    def i16(v: Int): W = { d.writeShort(v); this }
    def i32(v: Int): W = { d.writeInt(v); this }
    def i64(v: Long): W = { d.writeLong(v); this }
    def str(s: String): W = {
      if (s == null) i16(-1)
      else { val b = s.getBytes(UTF_8); d.writeShort(b.length); d.write(b) }
      this
    }
    def bytes(b: Array[Byte]): W = {
      if (b == null) i32(-1) else { d.writeInt(b.length); d.write(b) }
      this
    }
    def raw(b: Array[Byte]): W = { d.write(b); this }
    /** Zigzag varint/varlong (Kafka record-batch v2 field encoding — the
      * protobuf wire format: sign folded into bit 0, 7 bits per byte). */
    def varint(v: Long): W = {
      var z = (v << 1) ^ (v >> 63)
      while ((z & ~0x7fL) != 0) { d.writeByte(((z & 0x7f) | 0x80).toInt); z >>>= 7 }
      d.writeByte(z.toInt)
      this
    }
    def result: Array[Byte] = { d.flush(); bo.toByteArray }
  }

  final class R(buf: Array[Byte]) {
    private val d = new DataInputStream(new java.io.ByteArrayInputStream(buf))
    def i8(): Int = d.readByte().toInt
    def i16(): Int = d.readShort().toInt
    def i32(): Int = d.readInt()
    def i64(): Long = d.readLong()
    def str(): String = {
      val n = d.readShort()
      if (n < 0) null else new String(Wire.readExact(d, n, "kafka"), UTF_8)
    }
    def bytes(): Array[Byte] = {
      val n = d.readInt()
      if (n < 0) null else Wire.readExact(d, n, "kafka")
    }
    def raw(n: Int): Array[Byte] = Wire.readExact(d, n, "kafka")
    def varint(): Long = {
      var z = 0L
      var shift = 0
      var b = 0
      do {
        b = d.readByte() & 0xff
        z |= (b & 0x7fL) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      (z >>> 1) ^ -(z & 1) // un-zigzag
    }
    def remaining: Int = d.available()
  }

  // --------------------------------------------------- message set codec

  /** One message in a partition log. v2 batches carry a timestamp and
    * headers per record; v0 messages have neither (-1 / empty). */
  final case class Msg(offset: Long, key: Array[Byte], value: Array[Byte],
                       timestamp: Long = -1L,
                       headers: Seq[(String, Array[Byte])] = Nil)

  /** Serialize messages as a v0 MessageSet starting at `baseOffset`.
    * CRC32 covers magic..value (spec: message = crc + crc'd payload). */
  def messageSetBytes(baseOffset: Long, msgs: Seq[(Array[Byte], Array[Byte])]): Array[Byte] = {
    val out = new W()
    msgs.zipWithIndex.foreach { case ((k, v), i) =>
      val body = new W().i8(0).i8(0).bytes(k).bytes(v).result // magic 0, no attrs
      val crc = new CRC32()
      crc.update(body)
      val msg = new W().i32(crc.getValue.toInt).raw(body).result
      out.i64(baseOffset + i).i32(msg.length).raw(msg)
    }
    out.result
  }

  /** Parse a v0 MessageSet, verifying each CRC. Tolerates a trailing
    * partial message (the spec allows truncation at maxBytes). */
  def readMessageSet(buf: Array[Byte]): Vector[Msg] = {
    val out = Vector.newBuilder[Msg]
    val r = new R(buf)
    while (r.remaining >= 12) {
      val offset = r.i64()
      val size = r.i32()
      if (r.remaining < size) return out.result() // truncated tail
      val msg = new R(r.raw(size))
      val crc = msg.i32()
      val magic = msg.i8(); val attrs = msg.i8()
      val key = msg.bytes(); val value = msg.bytes()
      val check = new CRC32()
      val rebuilt = new W().i8(magic).i8(attrs).bytes(key).bytes(value).result
      check.update(rebuilt)
      if (check.getValue.toInt != crc)
        throw new java.io.IOException(s"kafka message CRC mismatch at offset $offset")
      out += Msg(offset, key, value)
    }
    out.result()
  }

  // ------------------------------------------- record batch v2 (magic 2)

  /** Serialize one record batch (magic 2) per the public spec:
    * baseOffset(8) batchLength(4) partitionLeaderEpoch(4) magic(1)
    * crc32c(4) attributes(2) lastOffsetDelta(4) baseTimestamp(8)
    * maxTimestamp(8) producerId(8) producerEpoch(2) baseSequence(4)
    * count(4) records — CRC32C (Castagnoli) covers attributes..end.
    * Records are zigzag-varint framed: length attrs(1) timestampDelta
    * offsetDelta keyLen key valueLen value headerCount [hdrKeyLen key
    * hdrValLen val]. No compression (attributes 0). */
  def recordBatchBytes(baseOffset: Long, msgs: Seq[Msg]): Array[Byte] = {
    val baseTs = msgs.map(_.timestamp).filter(_ >= 0).minOption.getOrElse(-1L)
    val maxTs = msgs.map(_.timestamp).maxOption.getOrElse(-1L)
    val records = new W()
    msgs.zipWithIndex.foreach { case (m, i) =>
      val body = new W()
      body.i8(0) // record attributes (unused by the spec)
      body.varint(if (m.timestamp >= 0 && baseTs >= 0) m.timestamp - baseTs else 0L)
      body.varint(i.toLong)
      if (m.key == null) body.varint(-1L)
      else { body.varint(m.key.length.toLong); body.raw(m.key) }
      if (m.value == null) body.varint(-1L)
      else { body.varint(m.value.length.toLong); body.raw(m.value) }
      body.varint(m.headers.length.toLong)
      m.headers.foreach { case (hk, hv) =>
        val kb = hk.getBytes(UTF_8)
        body.varint(kb.length.toLong); body.raw(kb)
        if (hv == null) body.varint(-1L)
        else { body.varint(hv.length.toLong); body.raw(hv) }
      }
      val bodyBytes = body.result
      records.varint(bodyBytes.length.toLong).raw(bodyBytes)
    }
    val crcd = new W()
      .i16(0)                       // batch attributes: no compression, create-time
      .i32(msgs.length - 1)         // lastOffsetDelta
      .i64(baseTs).i64(maxTs)
      .i64(-1L).i16(-1).i32(-1)     // producerId/Epoch/baseSequence: non-txn
      .i32(msgs.length)
      .raw(records.result).result
    val crc = new java.util.zip.CRC32C()
    crc.update(crcd)
    val afterLength = new W()
      .i32(-1)                      // partitionLeaderEpoch
      .i8(2)                        // magic
      .i32(crc.getValue.toInt)
      .raw(crcd).result
    new W().i64(baseOffset).i32(afterLength.length).raw(afterLength).result
  }

  /** Parse ONE record batch, verifying magic and CRC32C. */
  def readRecordBatch(buf: Array[Byte]): Vector[Msg] = {
    val r = new R(buf)
    val baseOffset = r.i64()
    val batchLength = r.i32()
    val rest = r.raw(batchLength)
    val rr = new R(rest)
    rr.i32() // partitionLeaderEpoch
    val magic = rr.i8()
    if (magic != 2)
      throw new java.io.IOException(s"expected record batch magic 2, got $magic")
    val crcStored = rr.i32()
    val crcd = rr.raw(rest.length - 9)
    val check = new java.util.zip.CRC32C()
    check.update(crcd)
    if (check.getValue.toInt != crcStored)
      throw new java.io.IOException(s"record batch CRC32C mismatch at offset $baseOffset")
    val cr = new R(crcd)
    cr.i16() // attributes (no compression supported/produced)
    cr.i32() // lastOffsetDelta
    val baseTs = cr.i64()
    cr.i64(); cr.i64(); cr.i16(); cr.i32() // maxTs, producerId, epoch, baseSeq
    val count = cr.i32()
    (0 until count).map { _ =>
      val len = cr.varint().toInt
      val rec = new R(cr.raw(len))
      rec.i8() // record attributes
      val tsDelta = rec.varint()
      val offDelta = rec.varint()
      val kLen = rec.varint().toInt
      val key = if (kLen < 0) null else rec.raw(kLen)
      val vLen = rec.varint().toInt
      val value = if (vLen < 0) null else rec.raw(vLen)
      val nHdr = rec.varint().toInt
      val headers = (0 until nHdr).map { _ =>
        val hkLen = rec.varint().toInt
        val hk = new String(rec.raw(hkLen), UTF_8)
        val hvLen = rec.varint().toInt
        val hv = if (hvLen < 0) null else rec.raw(hvLen)
        (hk, hv)
      }.toVector
      Msg(baseOffset + offDelta, key, value,
        if (baseTs < 0) -1L else baseTs + tsDelta, headers)
    }.toVector
  }

  /** Parse a records field that may hold SEVERAL concatenated batches
    * (a fetch can return the log's batches back to back). */
  def readRecordBatches(buf: Array[Byte]): Vector[Msg] = {
    val out = Vector.newBuilder[Msg]
    var pos = 0
    while (buf.length - pos >= 12) {
      val len = ((buf(pos + 8) & 0xff) << 24) | ((buf(pos + 9) & 0xff) << 16) |
        ((buf(pos + 10) & 0xff) << 8) | (buf(pos + 11) & 0xff)
      val total = 12 + len
      if (buf.length - pos < total) return out.result() // truncated tail
      out ++= readRecordBatch(java.util.Arrays.copyOfRange(buf, pos, pos + total))
      pos += total
    }
    out.result()
  }

  // -------------------------------------------------------------- broker

  /** Minimal Kafka broker: auto-created topics with a fixed partition
    * count, append-only in-memory logs. Speaks ApiVersions(18) v0,
    * Metadata(3) v0, Produce(0) v0 + v3 (record batches), Fetch(1)
    * v0 + v4 (record batches). `modern = false` advertises only the v0
    * forms — the legacy-broker fixture the client's negotiation
    * downgrades against. Thread-per-connection, all daemon. */
  final class MiniKafka(numPartitions: Int = 4, modern: Boolean = true,
                        rebalanceWindowMs: Long = 400) {
    private val lock = new Object
    private val logs = mutable.LinkedHashMap[(String, Int), mutable.ArrayBuffer[Msg]]()
    private val topics = mutable.LinkedHashSet[String]()
    private var listener: Wire.Listener = _

    // ---- consumer-group coordination state (the group-membership
    // protocol real brokers run: JoinGroup collects a generation's
    // members, the LEADER computes assignments client-side, SyncGroup
    // distributes them — kafka's documented client-side assignment)
    private final class Group {
      var generation = 0
      var state = "Empty" // Empty | PreparingRebalance | AwaitingSync | Stable
      val members = mutable.LinkedHashMap[String, Array[Byte]]() // memberId -> protocol metadata
      var joined = mutable.LinkedHashMap[String, Array[Byte]]()  // this round's joiners
      var leader = ""
      var assignments = mutable.Map[String, Array[Byte]]()
      var rebalanceDeadline = 0L
      var memberSeq = 0
    }
    private val groups = mutable.Map[String, Group]()
    private val offsets = mutable.Map[(String, String, Int), Long]() // (group, topic, part) -> next offset
    private val groupLock = new Object

    private def group(name: String): Group =
      groups.getOrElseUpdate(name, new Group)

    def start(): MiniKafka = { listener = Wire.listen("mini-kafka")(serve); this }

    def port: Int = listener.port
    def bootstrap: String = s"127.0.0.1:$port"
    def stop(): Unit = listener.close()

    private def logOf(topic: String, partition: Int): mutable.ArrayBuffer[Msg] = {
      topics.add(topic)
      logs.getOrElseUpdate((topic, partition), mutable.ArrayBuffer[Msg]())
    }

    private def handle(apiKey: Int, apiVersion: Int, body: R): Array[Byte] = apiKey match {
      case 18 => // ApiVersions v0: error + [api_key min max]
        val groupApis: Seq[(Int, Int, Int)] =
          Seq((8, 0, 0), (9, 0, 0), (10, 0, 0), (11, 0, 0), (12, 0, 0), (13, 0, 0), (14, 0, 0))
        val apis: Seq[(Int, Int, Int)] =
          (if (modern) Seq((0, 0, 3), (1, 0, 4), (3, 0, 0), (18, 0, 0))
           else Seq((0, 0, 0), (1, 0, 0), (3, 0, 0), (18, 0, 0))) ++ groupApis
        val w = new W().i16(0).i32(apis.length)
        apis.foreach { case (k, lo, hi) => w.i16(k).i16(lo).i16(hi) }
        w.result

      case 3 => // Metadata v0: [topics] → brokers + topic/partition layout
        val nReq = body.i32()
        val req = (0 until nReq).map(_ => body.str())
        val names = lock.synchronized {
          val known = if (req.isEmpty) topics.toVector else req.toVector
          known.foreach(t => (0 until numPartitions).foreach(p => logOf(t, p)))
          known
        }
        val w = new W()
        w.i32(1).i32(0).str("127.0.0.1").i32(port) // one broker, node 0
        w.i32(names.length)
        names.foreach { t =>
          w.i16(0).str(t).i32(numPartitions)
          (0 until numPartitions).foreach { p =>
            w.i16(0).i32(p).i32(0) // error, partition id, leader node 0
            w.i32(1).i32(0)        // replicas [0]
            w.i32(1).i32(0)        // isr [0]
          }
        }
        w.result

      case 0 => // Produce v0 (MessageSet) / v3 (record batches + txn id)
        if (apiVersion >= 3) body.str() // transactional_id (nullable)
        body.i16(); body.i32() // acks, timeout
        val w = new W()
        val nTopics = body.i32()
        w.i32(nTopics)
        (0 until nTopics).foreach { _ =>
          val topic = body.str()
          val nParts = body.i32()
          w.str(topic).i32(nParts)
          (0 until nParts).foreach { _ =>
            val partition = body.i32()
            val setSize = body.i32()
            val raw = body.raw(setSize)
            val msgs = if (apiVersion >= 3) readRecordBatches(raw)
                       else readMessageSet(raw)
            val baseOffset = lock.synchronized {
              val log = logOf(topic, partition)
              val base = log.length.toLong
              msgs.zipWithIndex.foreach { case (m, i) =>
                log.append(Msg(base + i, m.key, m.value, m.timestamp, m.headers))
              }
              base
            }
            w.i32(partition).i16(0).i64(baseOffset)
            if (apiVersion >= 2) w.i64(-1L) // log_append_time (create-time batches)
          }
        }
        if (apiVersion >= 1) w.i32(0) // throttle_time_ms
        w.result

      case 1 => // Fetch v0 (MessageSet) / v4 (record batches + isolation)
        body.i32(); body.i32(); body.i32() // replica, max_wait, min_bytes
        if (apiVersion >= 3) body.i32()    // request-level max_bytes
        if (apiVersion >= 4) body.i8()     // isolation_level
        val w = new W()
        if (apiVersion >= 1) w.i32(0)      // throttle_time_ms
        val nTopics = body.i32()
        w.i32(nTopics)
        (0 until nTopics).foreach { _ =>
          val topic = body.str()
          val nParts = body.i32()
          w.str(topic).i32(nParts)
          (0 until nParts).foreach { _ =>
            val partition = body.i32()
            val offset = body.i64()
            val maxBytes = body.i32()
            val (set, hw) = lock.synchronized {
              val log = logOf(topic, partition)
              val slice = log.iterator.dropWhile(_.offset < offset).toVector
              // respect maxBytes by trimming whole messages. v2: one 61-byte
              // batch header then ~varint-framed records; v0: 26 bytes per
              // message envelope.
              var budget = if (apiVersion >= 4) maxBytes - 61 else maxBytes
              val kept = Vector.newBuilder[Msg]
              slice.foreach { m =>
                val payload = (if (m.key == null) 0 else m.key.length) +
                  (if (m.value == null) 0 else m.value.length) +
                  m.headers.map { case (k, v) =>
                    k.length + (if (v == null) 0 else v.length) + 4 }.sum
                val sz = (if (apiVersion >= 4) 12 else 26) + payload
                if (budget - sz >= 0) { kept += m; budget -= sz }
              }
              val msgs = kept.result()
              val bytes =
                if (apiVersion >= 4)
                  if (msgs.isEmpty) Array.emptyByteArray
                  else recordBatchBytes(offset, msgs)
                else messageSetBytes(offset, msgs.map(m => (m.key, m.value)))
              (bytes, log.length.toLong)
            }
            w.i32(partition).i16(0).i64(hw)
            if (apiVersion >= 4) {
              w.i64(hw)  // last_stable_offset (no transactions)
              w.i32(0)   // aborted_transactions: empty
            }
            w.i32(set.length).raw(set)
          }
        }
        w.result

      case 10 => // GroupCoordinator v0: this broker coordinates everything
        body.str()
        new W().i16(0).i32(0).str("127.0.0.1").i32(port).result

      case 11 => // JoinGroup v0 — barrier on a rebalance window
        val groupName = body.str()
        body.i32() // session_timeout
        val memberIdReq = body.str()
        body.str() // protocol_type ("consumer")
        val nProtos = body.i32()
        val protos = (0 until nProtos).map(_ => (body.str(), body.bytes()))
        val g = groupLock.synchronized {
          val g = group(groupName)
          val memberId =
            if (memberIdReq.nonEmpty) memberIdReq
            else { g.memberSeq += 1; s"graft-member-${g.memberSeq}" }
          // a join in ANY settled-or-settling state (Empty, Stable,
          // AwaitingSync) opens a new rebalance round — the real
          // coordinator moves AwaitingSync groups back to
          // PreparingRebalance, failing in-flight syncs with error 27
          if (g.state != "PreparingRebalance") {
            g.state = "PreparingRebalance"
            g.joined = mutable.LinkedHashMap[String, Array[Byte]]()
            g.rebalanceDeadline = System.currentTimeMillis() + rebalanceWindowMs
          }
          g.joined(memberId) = protos.head._2
          groupLock.notifyAll()
          // barrier: wait out the window (or until every known member rejoined)
          while (g.state == "PreparingRebalance" &&
                 System.currentTimeMillis() < g.rebalanceDeadline &&
                 !(g.members.nonEmpty && g.members.keySet.forall(g.joined.contains)))
            groupLock.wait(50)
          if (g.state == "PreparingRebalance") { // this thread completes the round
            g.generation += 1
            g.members.clear(); g.members ++= g.joined
            g.leader = g.joined.head._1
            g.assignments = mutable.Map[String, Array[Byte]]()
            g.state = "AwaitingSync"
            groupLock.notifyAll()
          }
          (g, memberId)
        }
        val (grp, memberId) = g
        groupLock.synchronized {
          val w = new W().i16(0).i32(grp.generation).str(protos.head._1)
            .str(grp.leader).str(memberId)
          val roster = if (memberId == grp.leader) grp.members.toSeq else Seq.empty
          w.i32(roster.size)
          roster.foreach { case (m, meta) => w.str(m).bytes(meta) }
          w.result
        }

      case 14 => // SyncGroup v0 — leader distributes assignments
        val groupName = body.str()
        val generation = body.i32()
        val memberId = body.str()
        val nAssign = body.i32()
        val assigns = (0 until nAssign).map(_ => (body.str(), body.bytes()))
        groupLock.synchronized {
          val g = group(groupName)
          // a sync for a superseded generation (or while a new round is
          // already forming) gets 27 and must rejoin — without this
          // guard a stale leader would clobber the new round's state
          def stale = g.generation != generation || g.state == "PreparingRebalance"
          if (stale) new W().i16(27).bytes(Array.emptyByteArray).result
          else {
            if (assigns.nonEmpty) { // the leader's sync
              assigns.foreach { case (m, a) => g.assignments(m) = a }
              g.state = "Stable"
              groupLock.notifyAll()
            }
            val deadline = System.currentTimeMillis() + 5000
            while (!stale && !g.assignments.contains(memberId) &&
                   System.currentTimeMillis() < deadline)
              groupLock.wait(50)
            val ok = !stale && g.assignments.contains(memberId)
            new W().i16(if (ok) 0 else 27)
              .bytes(if (ok) g.assignments(memberId) else Array.emptyByteArray).result
          }
        }

      case 12 => // Heartbeat v0: 27 = REBALANCE_IN_PROGRESS drives rejoin
        val groupName = body.str()
        val generation = body.i32()
        body.str()
        groupLock.synchronized {
          val g = group(groupName)
          val err = if (g.generation != generation || g.state != "Stable") 27 else 0
          new W().i16(err).result
        }

      case 13 => // LeaveGroup v0: departure forces the next generation
        val groupName = body.str()
        val memberId = body.str()
        groupLock.synchronized {
          val g = group(groupName)
          g.members.remove(memberId)
          if (g.state == "Stable") g.state = "Empty" // next join rebalances from scratch
          groupLock.notifyAll()
          new W().i16(0).result
        }

      case 8 => // OffsetCommit v0
        val groupName = body.str()
        val nTopics = body.i32()
        val w = new W().i32(nTopics)
        (0 until nTopics).foreach { _ =>
          val topic = body.str()
          val nParts = body.i32()
          w.str(topic).i32(nParts)
          (0 until nParts).foreach { _ =>
            val partition = body.i32()
            val offset = body.i64()
            body.str() // metadata
            groupLock.synchronized(offsets((groupName, topic, partition)) = offset)
            w.i32(partition).i16(0)
          }
        }
        w.result

      case 9 => // OffsetFetch v0: -1 = no committed offset
        val groupName = body.str()
        val nTopics = body.i32()
        val w = new W().i32(nTopics)
        (0 until nTopics).foreach { _ =>
          val topic = body.str()
          val nParts = body.i32()
          w.str(topic).i32(nParts)
          (0 until nParts).foreach { _ =>
            val partition = body.i32()
            val off = groupLock.synchronized(
              offsets.getOrElse((groupName, topic, partition), -1L))
            w.i32(partition).i64(off).str("").i16(0)
          }
        }
        w.result

      case other =>
        throw new java.io.IOException(s"unhandled kafka api key $other")
    }

    private def serve(c: Wire.Conn): Unit = {
      val (in, out) = (c.in, c.out)
      while (true) {
        val len = in.readInt()
        val req = new R(Wire.readExact(in, len, "kafka"))
        val apiKey = req.i16(); val apiVersion = req.i16()
        val corr = req.i32(); req.str() // client id
        val resp = handle(apiKey, apiVersion, req)
        val framed = new W().i32(corr).raw(resp).result
        out.synchronized {
          new DataOutputStream(out).writeInt(framed.length)
          out.write(framed)
          out.flush()
        }
      }
    }
  }

  // -------------------------------------------------------------- client

  final case class PartitionMeta(partition: Int, leader: Int)
  final case class TopicMeta(topic: String, partitions: Vector[PartitionMeta])

  /** Blocking client: one socket, correlated request/response. One per
    * Spark partition in the operator layer. */
  final class Client(bootstrap: String, clientId: String = "graft") extends AutoCloseable {
    private val conn = Wire.connect("kafka", bootstrap)
    private val in = conn.in
    private val out = conn.out
    private var corr = 0

    private def call(apiKey: Int, body: Array[Byte], apiVersion: Int = 0): R = synchronized {
      corr += 1
      val req = new W().i16(apiKey).i16(apiVersion).i32(corr).str(clientId).raw(body).result
      new DataOutputStream(out).writeInt(req.length)
      out.write(req)
      out.flush()
      val len = in.readInt()
      val r = new R(Wire.readExact(in, len, "kafka"))
      val got = r.i32()
      require(got == corr, s"correlation id $got != $corr")
      r
    }

    /** ApiVersions(18) negotiation at connect: the broker's supported
      * range per api key. Produce >= 3 / Fetch >= 4 select the v2
      * record-batch codec; a legacy broker downgrades us to v0. */
    private lazy val apiMax: Map[Int, Int] = {
      val r = call(18, Array.emptyByteArray)
      val err = r.i16()
      require(err == 0, s"api_versions error $err")
      val n = r.i32()
      (0 until n).map { _ => val k = r.i16(); r.i16(); k -> r.i16() }.toMap
    }
    private def produceVersion: Int = if (apiMax.getOrElse(0, 0) >= 3) 3 else 0
    private def fetchVersion: Int = if (apiMax.getOrElse(1, 0) >= 4) 4 else 0

    def metadata(topic: String): TopicMeta = {
      val r = call(3, new W().i32(1).str(topic).result)
      val nBrokers = r.i32()
      (0 until nBrokers).foreach { _ => r.i32(); r.str(); r.i32() }
      val nTopics = r.i32()
      require(nTopics == 1, s"expected 1 topic, got $nTopics")
      r.i16() // topic error
      val name = r.str()
      val nParts = r.i32()
      val parts = (0 until nParts).map { _ =>
        r.i16() // partition error
        val id = r.i32(); val leader = r.i32()
        val nRep = r.i32(); (0 until nRep).foreach(_ => r.i32())
        val nIsr = r.i32(); (0 until nIsr).foreach(_ => r.i32())
        PartitionMeta(id, leader)
      }.toVector
      TopicMeta(name, parts)
    }

    /** Produce with acks=1; returns the base offset assigned. Negotiated:
      * v3 record batch (headers/timestamps ride) or v0 MessageSet. */
    def produce(topic: String, partition: Int,
                msgs: Seq[(Array[Byte], Array[Byte])]): Long =
      produceMsgs(topic, partition,
        msgs.map { case (k, v) => Msg(0L, k, v) })

    /** Produce full records (headers + timestamps when the broker takes
      * v2 batches; silently key/value-only on a v0 downgrade). */
    def produceMsgs(topic: String, partition: Int, msgs: Seq[Msg]): Long = {
      val ver = produceVersion
      val set =
        if (ver >= 3) recordBatchBytes(0L, msgs) // broker assigns real offsets
        else messageSetBytes(0L, msgs.map(m => (m.key, m.value)))
      val w = new W()
      if (ver >= 3) w.str(null) // transactional_id
      val body = w.i16(1).i32(10000).i32(1).str(topic).i32(1)
        .i32(partition).i32(set.length).raw(set).result
      val r = call(0, body, ver)
      r.i32(); r.str(); r.i32(); // 1 topic, name, 1 partition
      val part = r.i32(); val err = r.i16(); val base = r.i64()
      require(err == 0, s"produce error $err on partition $part")
      if (ver >= 2) r.i64() // log_append_time
      if (ver >= 1) r.i32() // throttle_time_ms
      base
    }

    /** Fetch from (topic, partition, offset); returns (messages, highWatermark).
      * Negotiated: v4 record batches or v0 MessageSet. */
    def fetch(topic: String, partition: Int, offset: Long,
              maxBytes: Int = 1 << 20): (Vector[Msg], Long) = {
      val ver = fetchVersion
      val w = new W().i32(-1).i32(100).i32(1)
      if (ver >= 3) w.i32(maxBytes) // request-level max_bytes
      if (ver >= 4) w.i8(0)         // isolation_level: read_uncommitted
      val body = w.i32(1).str(topic).i32(1)
        .i32(partition).i64(offset).i32(maxBytes).result
      val r = call(1, body, ver)
      if (ver >= 1) r.i32() // throttle_time_ms
      r.i32(); r.str(); r.i32() // 1 topic, name, 1 partition
      val part = r.i32(); val err = r.i16(); val hw = r.i64()
      require(err == 0, s"fetch error $err on partition $part")
      if (ver >= 4) {
        r.i64() // last_stable_offset
        val nAborted = r.i32()
        (0 until nAborted).foreach { _ => r.i64(); r.i64() }
      }
      val setSize = r.i32()
      val raw = r.raw(setSize)
      (if (ver >= 4) readRecordBatches(raw) else readMessageSet(raw), hw)
    }

    // ---------------------------------------- consumer-group verbs (v0)
    final case class JoinResult(generationId: Int, protocol: String, leaderId: String,
                                memberId: String, members: Seq[(String, Array[Byte])])

    def findCoordinator(groupName: String): (String, Int) = {
      val r = call(10, new W().str(groupName).result)
      require(r.i16() == 0, "coordinator error")
      r.i32(); (r.str(), r.i32())
    }

    def joinGroup(groupName: String, memberId: String, protocolName: String,
                  metadata: Array[Byte], sessionTimeoutMs: Int = 10000): JoinResult = {
      val body = new W().str(groupName).i32(sessionTimeoutMs).str(memberId)
        .str("consumer").i32(1).str(protocolName).bytes(metadata).result
      val r = call(11, body)
      val err = r.i16()
      require(err == 0, s"join_group error $err")
      val gen = r.i32(); val proto = r.str(); val leader = r.str(); val me = r.str()
      val n = r.i32()
      JoinResult(gen, proto, leader, me,
        (0 until n).map(_ => (r.str(), r.bytes())))
    }

    /** returns (error, assignment) — 27 (REBALANCE_IN_PROGRESS) is not
      * thrown: the real client's contract is to loop back to JoinGroup */
    def syncGroup(groupName: String, generation: Int, memberId: String,
                  assignments: Seq[(String, Array[Byte])]): (Int, Array[Byte]) = {
      val w = new W().str(groupName).i32(generation).str(memberId).i32(assignments.size)
      assignments.foreach { case (m, a) => w.str(m).bytes(a) }
      val r = call(14, w.result)
      val err = r.i16()
      require(err == 0 || err == 27, s"sync_group error $err")
      (err, r.bytes())
    }

    /** 0 = ok; 27 = rebalance in progress (the rejoin trigger) */
    def heartbeat(groupName: String, generation: Int, memberId: String): Int = {
      val r = call(12, new W().str(groupName).i32(generation).str(memberId).result)
      r.i16()
    }

    def leaveGroup(groupName: String, memberId: String): Unit = {
      val r = call(13, new W().str(groupName).str(memberId).result)
      require(r.i16() == 0, "leave_group error"); ()
    }

    def offsetCommit(groupName: String, topic: String, offsetsByPartition: Seq[(Int, Long)]): Unit = {
      val w = new W().str(groupName).i32(1).str(topic).i32(offsetsByPartition.size)
      offsetsByPartition.foreach { case (p2, o) => w.i32(p2).i64(o).str("") }
      val r = call(8, w.result)
      r.i32(); r.str()
      val nParts = r.i32()
      (0 until nParts).foreach { _ =>
        r.i32(); require(r.i16() == 0, "offset_commit error")
      }
    }

    def offsetFetch(groupName: String, topic: String, partitions: Seq[Int]): Map[Int, Long] = {
      val w = new W().str(groupName).i32(1).str(topic).i32(partitions.size)
      partitions.foreach(w.i32)
      val r = call(9, w.result)
      r.i32(); r.str()
      val nParts = r.i32()
      (0 until nParts).map { _ =>
        val p2 = r.i32(); val off = r.i64(); r.str(); require(r.i16() == 0, "offset_fetch error")
        p2 -> off
      }.toMap
    }

    override def close(): Unit = conn.close()
  }

  // ---------------------------------------------- consumer-group protocol
  /** the public ConsumerProtocol wire format (version, topic list /
    * assignment map, userdata) the broker treats as opaque bytes —
    * assignment is CLIENT-side, computed by the generation's leader */
  object ConsumerProtocol {
    def subscription(topics: Seq[String]): Array[Byte] = {
      val w = new W().i16(0).i32(topics.size)
      topics.foreach(w.str)
      w.bytes(Array.emptyByteArray).result
    }
    def parseSubscription(b: Array[Byte]): Seq[String] = {
      val r = new R(b); r.i16()
      val n = r.i32(); (0 until n).map(_ => r.str())
    }
    def assignment(parts: Map[String, Seq[Int]]): Array[Byte] = {
      val w = new W().i16(0).i32(parts.size)
      parts.foreach { case (t, ps) =>
        w.str(t).i32(ps.size); ps.foreach(w.i32)
      }
      w.bytes(Array.emptyByteArray).result
    }
    def parseAssignment(b: Array[Byte]): Map[String, Seq[Int]] = {
      if (b.isEmpty) return Map.empty
      val r = new R(b); r.i16()
      val n = r.i32()
      (0 until n).map { _ =>
        val t = r.str(); val np = r.i32()
        t -> (0 until np).map(_ => r.i32())
      }.toMap
    }
    /** range assignment: sorted partitions split into contiguous chunks
      * across sorted members (the default assignor's documented layout) */
    def rangeAssign(members: Seq[String], topic: String, numPartitions: Int): Map[String, Map[String, Seq[Int]]] = {
      val sorted = members.sorted
      val per = numPartitions / sorted.size
      val extra = numPartitions % sorted.size
      var start = 0
      sorted.zipWithIndex.map { case (m, i) =>
        val n = per + (if (i < extra) 1 else 0)
        val ps = (start until start + n).toSeq
        start += n
        m -> Map(topic -> ps)
      }.toMap
    }
  }

  /** a group-managed consumer (input.go's franz-go consumer-group shape):
    * join → leader range-assigns → sync → fetch assigned partitions from
    * committed offsets → commit; heartbeat 27 triggers a rejoin */
  final class GroupConsumer(bootstrap: String, groupName: String, topic: String)
      extends AutoCloseable {
    private val client = new Client(bootstrap)
    private var memberId = ""
    private var generation = 0
    private var assigned: Seq[Int] = Nil
    private val positions = mutable.Map[Int, Long]()

    def assignment: Seq[Int] = assigned

    def join(): Seq[Int] = {
      val meta = client.metadata(topic) // ensures the topic exists
      var myAssignment: Array[Byte] = null
      while (myAssignment == null) {
        val jr = client.joinGroup(groupName, memberId, "range",
          ConsumerProtocol.subscription(Seq(topic)))
        memberId = jr.memberId
        generation = jr.generationId
        val (err, bytes) =
          if (jr.memberId == jr.leaderId) {
            val plan = ConsumerProtocol.rangeAssign(jr.members.map(_._1), topic,
              meta.partitions.size)
            client.syncGroup(groupName, generation, memberId,
              plan.toSeq.map { case (m, a) => m -> ConsumerProtocol.assignment(a) })
          } else client.syncGroup(groupName, generation, memberId, Nil)
        // 27 = REBALANCE_IN_PROGRESS: the generation moved on while we
        // were syncing — loop back to JoinGroup (the real client's path)
        if (err == 0) myAssignment = bytes
      }
      assigned = ConsumerProtocol.parseAssignment(myAssignment).getOrElse(topic, Nil)
      positions.clear()
      val committed = client.offsetFetch(groupName, topic, assigned)
      assigned.foreach(p2 => positions(p2) = math.max(0L, committed.getOrElse(p2, -1L)))
      assigned
    }

    /** one fetch pass over the assigned partitions */
    def poll(): Vector[(Int, Msg)] = {
      val out = Vector.newBuilder[(Int, Msg)]
      assigned.foreach { p2 =>
        val (msgs, _) = client.fetch(topic, p2, positions(p2))
        msgs.foreach { m => out += ((p2, m)); positions(p2) = m.offset + 1 }
      }
      out.result()
    }

    /** commit consumed positions (the next offsets to read) */
    def commitSync(): Unit =
      if (assigned.nonEmpty)
        client.offsetCommit(groupName, topic, assigned.map(p2 => p2 -> positions(p2)))

    /** heartbeat; on REBALANCE_IN_PROGRESS rejoin and return true */
    def heartbeatAndMaybeRejoin(): Boolean =
      if (client.heartbeat(groupName, generation, memberId) == 27) { join(); true }
      else false

    def leave(): Unit = if (memberId.nonEmpty) client.leaveGroup(groupName, memberId)
    override def close(): Unit = { try leave() catch { case _: Throwable => () }; client.close() }
  }

  // ------------------------------------------------------ operator layer

  /** kafka output: each Spark partition produces through its own client;
    * the kafka partition is chosen per row (the reference's partitioner
    * contract — key-hash or explicit). Buffered per kafka partition and
    * flushed in chunks so the produce count scales with chunks, not rows. */
  def output(df: org.apache.spark.sql.DataFrame, bootstrap: String, topic: String,
             partitionOf: org.apache.spark.sql.Row => Int,
             keyOf: org.apache.spark.sql.Row => Array[Byte],
             valueOf: org.apache.spark.sql.Row => Array[Byte],
             chunk: Int = 500): Unit = {
    df.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
      if (rows.nonEmpty) {
        val c = new Client(bootstrap)
        try {
          val pending = mutable.HashMap[Int, mutable.ArrayBuffer[(Array[Byte], Array[Byte])]]()
          def flush(p: Int): Unit = pending.get(p).filter(_.nonEmpty).foreach { b =>
            c.produce(topic, p, b.toSeq); b.clear()
          }
          rows.foreach { row =>
            val p = partitionOf(row)
            val buf = pending.getOrElseUpdate(p, mutable.ArrayBuffer[(Array[Byte], Array[Byte])]())
            buf.append((keyOf(row), valueOf(row)))
            if (buf.length >= chunk) flush(p)
          }
          pending.keys.foreach(flush)
        } finally c.close()
      }
    }
  }

  /** kafka input: one fetch cursor PER KAFKA PARTITION, running
    * executor-side — the same task shape as Spark's own kafka source.
    * Reads each partition from `startOffset` to its high watermark at
    * call time (bounded, the batch semantics of spark.read.kafka). */
  def input(spark: org.apache.spark.sql.SparkSession, bootstrap: String, topic: String)
      : org.apache.spark.sql.Dataset[(Int, Long, String, String)] = {
    import spark.implicits._
    val meta = {
      val c = new Client(bootstrap)
      try c.metadata(topic) finally c.close()
    }
    val parts = meta.partitions.map(_.partition)
    spark.createDataset(parts).repartition(parts.length)
      .mapPartitions { pids =>
        pids.flatMap { pid =>
          val c = new Client(bootstrap)
          try {
            val out = Vector.newBuilder[(Int, Long, String, String)]
            var offset = 0L
            var hw = Long.MaxValue
            var done = false
            while (!done) {
              val (msgs, highWater) = c.fetch(topic, pid, offset)
              hw = highWater
              msgs.foreach { m =>
                out += ((pid, m.offset,
                  if (m.key == null) null else new String(m.key, UTF_8),
                  if (m.value == null) null else new String(m.value, UTF_8)))
              }
              offset = if (msgs.nonEmpty) msgs.last.offset + 1 else offset
              done = offset >= hw
            }
            out.result()
          } finally c.close()
        }
      }
  }
}
