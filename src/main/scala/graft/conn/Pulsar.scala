package graft.conn

import java.io.{BufferedOutputStream, DataInputStream, OutputStream}
import java.nio.ByteBuffer
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.VectorMap
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import graft.conn.Aws.Json
import graft.functions.ProtoSchema

/** Apache Pulsar connector (impl/pulsar/input.go, output.go) over the
  * PUBLIC binary protocol: `[totalSize][commandSize][BaseCommand]`
  * frames where BaseCommand is a protobuf message (PulsarApi.proto —
  * the field/enum numbering here follows the published file), and
  * payload commands (SEND / MESSAGE) append the documented
  * `[magic 0x0e01][crc32c][metadataSize][MessageMetadata][payload]`
  * trailer with CRC32C verified on receipt.
  *
  * The protobuf layer REUSES the in-repo from-scratch proto compiler
  * (functions/ProtoSchema.scala): the protocol subset below is declared
  * as .proto text and encoded/decoded dynamically — no generated code,
  * no external library (the reference wraps pulsar-client-go).
  *
  * Command flow re-expressed from input.go/output.go: CONNECT→CONNECTED
  * handshake, PRODUCER→PRODUCER_SUCCESS, SEND→SEND_RECEIPT (the acked
  * produce), SUBSCRIBE→SUCCESS, FLOW permits, MESSAGE deliveries and
  * individual/cumulative ACK — the shared-subscription cursor semantics
  * the reference consumes with.
  */
object Pulsar {

  /** the PulsarApi.proto subset (public schema; numbering preserved) */
  private val Schema = """
    syntax = "proto3";
    package pulsar.proto;
    message KeyValue { string key = 1; string value = 2; }
    message MessageIdData { uint64 ledgerId = 1; uint64 entryId = 2; }
    message MessageMetadata {
      string producer_name = 1;
      uint64 sequence_id = 2;
      uint64 publish_time = 3;
      repeated KeyValue properties = 4;
      string partition_key = 6;
    }
    message CommandConnect { string client_version = 1; int32 protocol_version = 4; }
    message CommandConnected { string server_version = 1; int32 protocol_version = 2; }
    message CommandSubscribe {
      string topic = 1; string subscription = 2; int32 subType = 3;
      uint64 consumer_id = 4; uint64 request_id = 5;
    }
    message CommandProducer {
      string topic = 1; uint64 producer_id = 2; uint64 request_id = 3; string producer_name = 4;
    }
    message CommandSend { uint64 producer_id = 1; uint64 sequence_id = 2; int32 num_messages = 3; }
    message CommandSendReceipt {
      uint64 producer_id = 1; uint64 sequence_id = 2; MessageIdData message_id = 3;
    }
    message CommandMessage {
      uint64 consumer_id = 1; MessageIdData message_id = 2; uint32 redelivery_count = 3;
    }
    message CommandAck {
      uint64 consumer_id = 1; int32 ack_type = 2; repeated MessageIdData message_id = 3;
    }
    message CommandFlow { uint64 consumer_id = 1; uint32 messagePermits = 2; }
    message CommandSuccess { uint64 request_id = 1; }
    message CommandError { uint64 request_id = 1; int32 error = 2; string message = 3; }
    message CommandProducerSuccess { uint64 request_id = 1; string producer_name = 2; }
    message CommandReachedEndOfTopic { uint64 consumer_id = 1; }
    message BaseCommand {
      int32 type = 1;
      CommandConnect connect = 2;
      CommandConnected connected = 3;
      CommandSubscribe subscribe = 4;
      CommandProducer producer = 5;
      CommandSend send = 6;
      CommandSendReceipt send_receipt = 7;
      CommandMessage message = 9;
      CommandAck ack = 10;
      CommandFlow flow = 11;
      CommandSuccess success = 13;
      CommandError error = 14;
      CommandProducerSuccess producer_success = 17;
      CommandReachedEndOfTopic reachedEndOfTopic = 27;
    }
  """
  private lazy val reg = ProtoSchema.registryForText(Schema)
  private val Fqn = "pulsar.proto.BaseCommand"
  private val MetaFqn = "pulsar.proto.MessageMetadata"

  // BaseCommand.Type values (PulsarApi.proto enum)
  object T {
    val Connect = 2; val Connected = 3; val Subscribe = 4; val Producer = 5
    val Send = 6; val SendReceipt = 7; val Message = 9; val Ack = 10
    val Flow = 11; val Success = 13; val Error = 14; val ProducerSuccess = 17
    val ReachedEndOfTopic = 27
  }

  private def cmdBytes(json: VectorMap[String, Any]): Array[Byte] =
    ProtoSchema.fromJson(reg, Fqn, Json.render(json), discardUnknown = false)
  private def cmdParse(bytes: Array[Byte]): VectorMap[String, Any] =
    Json.asObj(Json.parse(ProtoSchema.toJson(reg, Fqn, bytes)))

  private val MagicCrc: Short = 0x0e01

  /** simple command frame: [totalSize][commandSize][command] */
  def simpleFrame(cmd: VectorMap[String, Any]): Array[Byte] = {
    val c = cmdBytes(cmd)
    ByteBuffer.allocate(8 + c.length).putInt(4 + c.length).putInt(c.length).put(c).array()
  }

  /** payload frame: … [magic][crc32c][metadataSize][metadata][payload];
    * CRC32C (Castagnoli) covers everything after the checksum field */
  def payloadFrame(cmd: VectorMap[String, Any], metaJson: VectorMap[String, Any],
                   payload: Array[Byte]): Array[Byte] = {
    val c = cmdBytes(cmd)
    val meta = ProtoSchema.fromJson(reg, MetaFqn, Json.render(metaJson), discardUnknown = false)
    val checksummed = ByteBuffer.allocate(4 + meta.length + payload.length)
      .putInt(meta.length).put(meta).put(payload).array()
    val crc = new java.util.zip.CRC32C(); crc.update(checksummed)
    val total = 4 + c.length + 2 + 4 + checksummed.length
    ByteBuffer.allocate(4 + total).putInt(total).putInt(c.length).put(c)
      .putShort(MagicCrc).putInt(crc.getValue.toInt).put(checksummed).array()
  }

  final case class Frame(cmd: VectorMap[String, Any], meta: Option[VectorMap[String, Any]],
                         payload: Array[Byte])

  def readPulsarFrame(in: DataInputStream): Frame = {
    val body = Wire.readExact(in, in.readInt(), "pulsar")
    val b = ByteBuffer.wrap(body)
    val cmdLen = b.getInt()
    val cmdB = new Array[Byte](cmdLen); b.get(cmdB)
    val cmd = cmdParse(cmdB)
    if (b.remaining() == 0) Frame(cmd, None, Array.emptyByteArray)
    else {
      require(b.getShort() == MagicCrc, "pulsar: bad payload magic")
      val wantCrc = b.getInt()
      val rest = new Array[Byte](b.remaining()); b.get(rest)
      val crc = new java.util.zip.CRC32C(); crc.update(rest)
      require(crc.getValue.toInt == wantCrc, "pulsar: CRC32C mismatch")
      val rb = ByteBuffer.wrap(rest)
      val metaLen = rb.getInt()
      val metaB = new Array[Byte](metaLen); rb.get(metaB)
      val payload = new Array[Byte](rb.remaining()); rb.get(payload)
      Frame(cmd, Some(Json.asObj(Json.parse(ProtoSchema.toJson(reg, MetaFqn, metaB)))), payload)
    }
  }

  private def num(m: VectorMap[String, Any], k: String, default: Long = 0L): Long = m.get(k) match {
    case Some(l: Long) => l
    case Some(d: Double) => d.toLong
    case Some(s: String) => s.toLong // protojson renders uint64 as string
    case _ => default
  }
  private def sub(m: VectorMap[String, Any], k: String): VectorMap[String, Any] =
    m.get(k).map(Json.asObj).getOrElse(VectorMap.empty[String, Any])

  // ------------------------------------------------------------- fixture
  private final case class StoredMsg(entryId: Long, meta: VectorMap[String, Any], payload: Array[Byte])
  private final class Topic {
    var entryGen = 0L; val msgs = new ArrayBuffer[StoredMsg]()
    var terminated = false // no more publishes; drained consumers get REACHED_END_OF_TOPIC
  }
  private final class SubState { // shared-subscription cursor
    var cursor = 0
    val consumers = new ArrayBuffer[(OutputStream, Long)]() // (connection out, consumer_id)
    var permits = 0L
    var rr = 0
  }

  final class MiniPulsar {
    private val lock = new Object
    private val topics = mutable.Map[String, Topic]()
    private val subs = mutable.Map[(String, String), SubState]()
    @volatile private var listener: Wire.Listener = _
    def address: String = s"127.0.0.1:${listener.port}"
    def topicLen(t: String): Int = lock.synchronized(topics.get(t).map(_.msgs.size).getOrElse(0))

    private def topic(name: String): Topic = topics.getOrElseUpdate(name, new Topic)

    private def writeFrame(out: OutputStream, bytes: Array[Byte]): Unit =
      out.synchronized { out.write(bytes); out.flush() }
    private def writeFrameNoFlush(out: OutputStream, bytes: Array[Byte]): Unit =
      out.synchronized(out.write(bytes))

    /** deliver while the subscription has permits and a cursor backlog;
      * delivery frames are buffered and each touched consumer connection
      * is flushed ONCE per pump — a flush per message serializes the
      * whole fan-out on syscalls under the broker lock */
    private def pump(topicName: String, subName: String): Unit = {
      val st = subs.getOrElse((topicName, subName), return)
      val t = topic(topicName)
      val touched = mutable.Set[OutputStream]()
      while (st.permits > 0 && st.cursor < t.msgs.size && st.consumers.nonEmpty) {
        val m = t.msgs(st.cursor)
        val (out, cid) = st.consumers(st.rr % st.consumers.size)
        st.rr += 1; st.cursor += 1; st.permits -= 1
        writeFrameNoFlush(out, payloadFrame(
          Json.obj("type" -> T.Message.toLong, "message" -> Json.obj(
            "consumerId" -> cid,
            "messageId" -> Json.obj("ledgerId" -> 0L, "entryId" -> m.entryId))),
          m.meta, m.payload))
        touched += out
      }
      // per-connection isolation: one dead consumer socket must not
      // strand the other consumers' buffered deliveries or skip the
      // end-of-topic notifications below
      touched.foreach(o => try o.synchronized(o.flush())
        catch { case _: java.io.IOException => () })
      // terminated topic, backlog fully dispatched: notify every attached
      // consumer (REACHED_END_OF_TOPIC, PulsarApi.proto) — written after
      // the deliveries above, so each consumer sees its messages first
      if (t.terminated && st.cursor >= t.msgs.size) st.consumers.foreach { case (o, cid) =>
        try writeFrame(o, simpleFrame(Json.obj("type" -> T.ReachedEndOfTopic.toLong,
          "reachedEndOfTopic" -> Json.obj("consumerId" -> cid))))
        catch { case _: Exception => () } // consumer already gone
      }
    }

    private def serve(c: Wire.Conn): Unit = {
      val (in, out) = (c.in, c.out)
      val producers = mutable.Map[Long, String]() // producer_id -> topic
      val consumers = mutable.Map[Long, (String, String)]() // consumer_id -> (topic, sub)
      try while (true) {
        val f = readPulsarFrame(in)
        val tpe = num(f.cmd, "type").toInt
        lock.synchronized {
          tpe match {
            case T.Connect =>
              writeFrame(out, simpleFrame(Json.obj("type" -> T.Connected.toLong,
                "connected" -> Json.obj("serverVersion" -> "mini-pulsar", "protocolVersion" -> 19L))))
            case T.Producer =>
              val p = sub(f.cmd, "producer")
              producers(num(p, "producerId")) = Json.str(p, "topic")
              writeFrame(out, simpleFrame(Json.obj("type" -> T.ProducerSuccess.toLong,
                "producerSuccess" -> Json.obj("requestId" -> num(p, "requestId"),
                  "producerName" -> s"prod-${num(p, "producerId")}"))))
            case T.Send =>
              val s = sub(f.cmd, "send")
              val topicName = producers(num(s, "producerId"))
              val t = topic(topicName)
              t.entryGen += 1
              t.msgs += StoredMsg(t.entryGen, f.meta.get, f.payload)
              // receipt is buffered, not flushed: a pipelined producer
              // window of N sends gets its N receipts in one flush (below,
              // once the input side goes quiet) instead of N syscalls
              writeFrameNoFlush(out, simpleFrame(Json.obj("type" -> T.SendReceipt.toLong,
                "sendReceipt" -> Json.obj("producerId" -> num(s, "producerId"),
                  "sequenceId" -> num(s, "sequenceId"),
                  "messageId" -> Json.obj("ledgerId" -> 0L, "entryId" -> t.entryGen)))))
              subs.keys.filter(_._1 == topicName).foreach { case (tn, sn) => pump(tn, sn) }
            case T.Subscribe =>
              val s = sub(f.cmd, "subscribe")
              val key = (Json.str(s, "topic"), Json.str(s, "subscription"))
              topic(key._1)
              val st = subs.getOrElseUpdate(key, new SubState)
              st.consumers += ((out, num(s, "consumerId")))
              consumers(num(s, "consumerId")) = key
              writeFrame(out, simpleFrame(Json.obj("type" -> T.Success.toLong,
                "success" -> Json.obj("requestId" -> num(s, "requestId")))))
            case T.Flow =>
              val fl = sub(f.cmd, "flow")
              consumers.get(num(fl, "consumerId")).foreach { case (tn, sn) =>
                subs((tn, sn)).permits += num(fl, "messagePermits")
                pump(tn, sn)
              }
            case T.Ack => () // cursor-based fixture: delivery advances the cursor
            case other =>
              writeFrame(out, simpleFrame(Json.obj("type" -> T.Error.toLong,
                "error" -> Json.obj("requestId" -> 0L, "error" -> 0L,
                  "message" -> s"unsupported command type $other"))))
          }
        }
        // flush buffered receipts once the client's input side goes
        // quiet (end of a pipelined send window) — near-free when the
        // buffer is already empty
        if (in.available() == 0) out.synchronized(out.flush())
      } finally lock.synchronized {
        subs.values.foreach(st => st.consumers.filterInPlace(_._1 ne out))
      }
    }

    /** Admin-API analogue of topic termination (`pulsar-admin topics
      * terminate`): publishes stop, and every consumer that reaches the
      * end of the backlog is sent REACHED_END_OF_TOPIC — the protocol's
      * own deterministic drain-complete signal (no timeout heuristics). */
    def terminate(name: String): Unit = lock.synchronized {
      topic(name).terminated = true
      subs.keys.filter(_._1 == name).foreach { case (tn, sn) => pump(tn, sn) }
    }

    def start(): this.type = { listener = Wire.listen("mini-pulsar")(serve); this }
    def stop(): Unit = if (listener != null) listener.close()
  }

  // -------------------------------------------------------------- client
  private val ids = new AtomicLong(0)

  final class Producer(address: String, topicName: String) extends AutoCloseable {
    private val conn = Wire.connect("pulsar", address)
    private val in = conn.in
    private val out = conn.out
    private val producerId = ids.incrementAndGet()
    private var seqGen = 0L

    locally {
      out.write(simpleFrame(Json.obj("type" -> T.Connect.toLong,
        "connect" -> Json.obj("clientVersion" -> "graft", "protocolVersion" -> 19L)))); out.flush()
      require(num(readPulsarFrame(in).cmd, "type") == T.Connected, "expected CONNECTED")
      out.write(simpleFrame(Json.obj("type" -> T.Producer.toLong,
        "producer" -> Json.obj("topic" -> topicName, "producerId" -> producerId,
          "requestId" -> ids.incrementAndGet())))); out.flush()
      require(num(readPulsarFrame(in).cmd, "type") == T.ProducerSuccess, "expected PRODUCER_SUCCESS")
    }

    private var pendingReceipts = 0L

    /** pipelined send — receipts drain on flush(), the way real clients
      * keep a pending queue instead of a per-message round trip */
    def sendAsync(payload: Array[Byte], key: String = "",
                  properties: Map[String, String] = Map.empty): Unit = synchronized {
      seqGen += 1
      var meta = Json.obj("producerName" -> s"prod-$producerId", "sequenceId" -> seqGen,
        "publishTime" -> System.currentTimeMillis())
      if (key.nonEmpty) meta = meta.updated("partitionKey", key)
      if (properties.nonEmpty) meta = meta.updated("properties",
        properties.toVector.map { case (k, v) => Json.obj("key" -> k, "value" -> v): Any })
      out.write(payloadFrame(Json.obj("type" -> T.Send.toLong,
        "send" -> Json.obj("producerId" -> producerId, "sequenceId" -> seqGen)),
        meta, payload))
      pendingReceipts += 1
    }

    /** drain every outstanding SEND_RECEIPT (in order on the one
      * connection); returns the last acked entry id */
    def flush(): Long = synchronized {
      out.flush()
      var last = 0L
      while (pendingReceipts > 0) {
        val receipt = readPulsarFrame(in)
        require(num(receipt.cmd, "type") == T.SendReceipt, "expected SEND_RECEIPT")
        last = num(sub(sub(receipt.cmd, "sendReceipt"), "messageId"), "entryId")
        pendingReceipts -= 1
      }
      last
    }

    /** acked send: one message, one receipt (output.go's sync path) */
    def send(payload: Array[Byte], key: String = "",
             properties: Map[String, String] = Map.empty): Long = synchronized {
      sendAsync(payload, key, properties)
      flush()
    }
    override def close(): Unit = conn.close()
  }

  final case class Received(entryId: Long, payload: Array[Byte], partitionKey: String,
                            properties: Map[String, String])

  final class Consumer(address: String, topicName: String, subscription: String) extends AutoCloseable {
    private val conn = Wire.connect("pulsar", address)
    private val in = conn.in
    private val out = conn.out
    private val consumerId = ids.incrementAndGet()

    locally {
      out.write(simpleFrame(Json.obj("type" -> T.Connect.toLong,
        "connect" -> Json.obj("clientVersion" -> "graft", "protocolVersion" -> 19L)))); out.flush()
      require(num(readPulsarFrame(in).cmd, "type") == T.Connected, "expected CONNECTED")
      out.write(simpleFrame(Json.obj("type" -> T.Subscribe.toLong,
        "subscribe" -> Json.obj("topic" -> topicName, "subscription" -> subscription,
          "subType" -> 1L /* Shared */, "consumerId" -> consumerId,
          "requestId" -> ids.incrementAndGet())))); out.flush()
      require(num(readPulsarFrame(in).cmd, "type") == T.Success, "expected SUCCESS")
    }

    def flow(permits: Int): Unit = synchronized {
      out.write(simpleFrame(Json.obj("type" -> T.Flow.toLong,
        "flow" -> Json.obj("consumerId" -> consumerId, "messagePermits" -> permits.toLong))))
      out.flush()
    }

    /** true once the broker signalled REACHED_END_OF_TOPIC */
    @volatile var endOfTopic: Boolean = false

    def receive(timeoutMs: Int = Wire.TimeoutMs): Option[Received] = synchronized {
      if (endOfTopic) return None
      conn.await(timeoutMs)(Some(readPulsarFrame(in))).flatMap { f =>
        num(f.cmd, "type") match {
          case t if t == T.Message =>
            val meta = f.meta.get
            val props = meta.get("properties").map(Json.asArr).getOrElse(Vector.empty).map { kv =>
              val m = Json.asObj(kv); Json.str(m, "key") -> Json.str(m, "value")
            }.toMap
            Some(Received(num(sub(sub(f.cmd, "message"), "messageId"), "entryId"),
              f.payload, Json.strOpt(meta, "partitionKey").getOrElse(""), props))
          case t if t == T.ReachedEndOfTopic => endOfTopic = true; None
          case other => sys.error(s"expected MESSAGE, got type $other")
        }
      }
    }

    /** Buffered: acks ride the BufferedOutputStream and reach the wire
      * on the next flow()'s flush (every permit top-up) or on close() —
      * a flush per ack would put one syscall back in the drain's inner
      * loop, the exact cost the pump's batched flushes removed. */
    def ack(entryId: Long): Unit = synchronized {
      out.write(simpleFrame(Json.obj("type" -> T.Ack.toLong,
        "ack" -> Json.obj("consumerId" -> consumerId, "ackType" -> 0L,
          "messageId" -> Vector[Any](Json.obj("ledgerId" -> 0L, "entryId" -> entryId))))))
    }
    override def close(): Unit = {
      try synchronized(out.flush()) catch { case _: java.io.IOException => () }
      conn.close()
    }
  }
}
