package graft.conn

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.immutable.VectorMap
import scala.collection.mutable

import graft.conn.Aws.Json

/** NATS JetStream (impl/nats/input_jetstream.go, output_jetstream.go)
  * layered over the core NATS protocol exactly as the real server
  * layers it — as SUBJECT-SPACE API services, not new wire opcodes:
  *
  *  - `$JS.API.STREAM.CREATE.{stream}` — JSON stream config request.
  *  - publishing to a stream subject WITH a reply inbox returns the
  *    PubAck `{"stream":…,"seq":…}` (the at-least-once publish the
  *    reference output uses).
  *  - `$JS.API.CONSUMER.DURABLE.CREATE.{stream}.{durable}` — pull
  *    consumer creation.
  *  - `$JS.API.CONSUMER.MSG.NEXT.{stream}.{durable}` — pull-consume:
  *    up to `batch` stored messages are delivered to the request's
  *    reply inbox, each carrying the documented ack subject
  *    `$JS.ACK.{stream}.{consumer}.{delivered}.{sseq}.{cseq}.{ts}.{pending}`;
  *    publishing to that subject acks, and unacked messages redeliver
  *    after `ack_wait` with the delivery count bumped.
  *
  * The reference wraps nats.go's JetStream client; the subject-space
  * API shapes here follow the public JetStream docs. Since the core
  * layer gained HPUB/HMSG headers, this service also carries the
  * headers-based features the KV bucket semantics need: per-message
  * headers in storage and delivery, `Nats-Expected-Last-Subject-
  * Sequence` optimistic concurrency (err_code 10071), `Nats-Rollup:
  * sub` subject purges, `$JS.API.STREAM.MSG.GET` direct gets
  * (last_by_subj / seq), and filter_subject / last_per_subject
  * consumers — see [[NatsKv]].
  */
object JetStream {

  final case class PubAck(stream: String, seq: Long)
  /** `subject` is the DELIVERY inbox: a real nats-server rewrites the
    * MSG subject to the stored message's original subject because
    * delivery rides the subscription, while this service publishes into
    * the inbox over plain core framing — route data in the payload (the
    * reference's jetstream input surfaces the subject as metadata;
    * declared deviation). */
  final case class JsMsg(subject: String, payload: Array[Byte], ackSubject: String,
                         streamSeq: Long, delivery: Long,
                         headers: Map[String, String] = Map.empty)

  /** typed JS API error (error.err_code carries the JetStream code —
    * 10071 = wrong last sequence, the KV compare-and-set failure) */
  final case class JsApiError(code: Long, errCode: Long, description: String)
      extends RuntimeException(s"jetstream api error $errCode: $description")

  // ------------------------------------------------------------- service
  private final case class Stored(seq: Long, subject: String, payload: Array[Byte],
                                  headers: Map[String, String] = Map.empty)

  /** The JetStream service half: runs as a client of a (Mini)NATS
    * server — the same process-boundary shape as nats-server's internal
    * JS service listening on $JS.API.>. */
  final class MiniJetStream(url: String, ackWaitMs: Long = 30000) {
    private final class StreamState(val name: String, val subjects: Vector[String]) {
      var seqGen = 0L
      val msgs = new mutable.ArrayBuffer[Stored]()
    }
    private final class ConsumerState(val filterSubject: String = "") {
      val acked = mutable.Set[Long]()
      val inflight = mutable.Map[Long, (Long, Long)]() // seq -> (redeliverAt, deliveries)
    }
    private val streams = mutable.Map[String, StreamState]()
    private val consumers = mutable.Map[(String, String), ConsumerState]()
    @volatile private var running = true
    private var nc: Nats.Client = _
    private var thread: Thread = _

    def start(): this.type = {
      nc = new Nats.Client(url)
      nc.subscribe("$JS.API.>")
      nc.subscribe("$JS.ACK.>")
      // without the round trip, a client connecting right after start()
      // can publish its first API request before the server has read
      // these SUBs, and the request is dropped: the caller then waits
      // for a reply forever
      nc.flush()
      thread = new Thread(() => {
        try while (running) handle(nc.nextMsg())
        catch { case _: Throwable => () }
      })
      thread.setDaemon(true); thread.start()
      this
    }
    def stop(): Unit = { running = false; if (nc != null) nc.close() }

    def streamLen(name: String): Int = synchronized(streams.get(name).map(_.msgs.size).getOrElse(0))

    private def reply(to: String, body: VectorMap[String, Any]): Unit =
      if (to.nonEmpty) nc.publish(to, Json.render(body).getBytes(UTF_8))

    private def handle(m: Nats.Msg): Unit = synchronized {
      val subj = m.subject
      if (subj.startsWith("$JS.API.STREAM.CREATE.")) {
        val cfg = Json.asObj(Json.parse(new String(m.payload, UTF_8)))
        val name = Json.str(cfg, "name")
        val subjects = Json.asArr(cfg("subjects")).map(_.asInstanceOf[String]).toVector
        if (!streams.contains(name)) {
          streams(name) = new StreamState(name, subjects)
          subjects.foreach(nc.subscribe(_)) // capture stream traffic
        }
        reply(m.reply, Json.obj("type" -> "io.nats.jetstream.api.v1.stream_create_response",
          "config" -> Json.obj("name" -> name,
            "subjects" -> subjects.map(s => s: Any)), "did_create" -> true))
      } else if (subj.startsWith("$JS.API.CONSUMER.DURABLE.CREATE.")) {
        val parts = subj.stripPrefix("$JS.API.CONSUMER.DURABLE.CREATE.").split('.')
        val (stream, durable) = (parts(0), parts(1))
        if (!streams.contains(stream))
          reply(m.reply, Json.obj("error" -> Json.obj("code" -> 404L, "description" -> "stream not found")))
        else {
          // the real API nests consumer options under "config"
          val body = Json.asObj(Json.parse(new String(m.payload, UTF_8)))
          val cfg = body.get("config").map(Json.asObj).getOrElse(body)
          val filter = cfg.get("filter_subject").collect { case s: String => s }.getOrElse("")
          val policy = cfg.get("deliver_policy").collect { case s: String => s }.getOrElse("all")
          val cs = consumers.getOrElseUpdate((stream, durable), new ConsumerState(filter))
          if (policy == "last_per_subject") {
            // initial position: only the newest message of each subject
            // is deliverable — everything older starts pre-acked (the
            // KV watch's non-history initial snapshot)
            val st = streams(stream)
            val latest = mutable.Map[String, Long]()
            st.msgs.foreach { s => latest(s.subject) = s.seq }
            st.msgs.foreach { s => if (latest(s.subject) != s.seq) cs.acked += s.seq }
          }
          reply(m.reply, Json.obj("type" -> "io.nats.jetstream.api.v1.consumer_create_response",
            "name" -> durable, "stream_name" -> stream))
        }
      } else if (subj.startsWith("$JS.API.STREAM.MSG.GET.")) {
        // direct get: {"last_by_subj": s} or {"seq": n} — the KV Get path
        val stream = subj.stripPrefix("$JS.API.STREAM.MSG.GET.")
        val req = Json.asObj(Json.parse(new String(m.payload, UTF_8)))
        streams.get(stream) match {
          case None =>
            reply(m.reply, Json.obj("error" -> Json.obj("code" -> 404L, "description" -> "stream not found")))
          case Some(st) =>
            val hit = req.get("last_by_subj").collect { case s: String => s } match {
              case Some(bySubj) => st.msgs.reverseIterator.find(_.subject == bySubj)
              case None =>
                val seq = Json.long(req, "seq")
                st.msgs.find(_.seq == seq)
            }
            hit match {
              case Some(s) =>
                val b64 = java.util.Base64.getEncoder
                var msg = Json.obj("subject" -> s.subject, "seq" -> s.seq,
                  "data" -> b64.encodeToString(s.payload))
                if (s.headers.nonEmpty)
                  msg = msg.updated("hdrs", b64.encodeToString(Nats.renderHeaders(s.headers)))
                reply(m.reply, Json.obj("type" -> "io.nats.jetstream.api.v1.stream_msg_get_response",
                  "message" -> msg))
              case None =>
                reply(m.reply, Json.obj("error" ->
                  Json.obj("code" -> 404L, "err_code" -> 10037L, "description" -> "no message found")))
            }
        }
      } else if (subj.startsWith("$JS.API.CONSUMER.MSG.NEXT.")) {
        val parts = subj.stripPrefix("$JS.API.CONSUMER.MSG.NEXT.").split('.')
        val (stream, durable) = (parts(0), parts(1))
        (streams.get(stream), consumers.get((stream, durable))) match {
          case (Some(st), Some(cs)) =>
            val batch = Json.long(Json.asObj(Json.parse(new String(m.payload, UTF_8))), "batch", 1).toInt
            val now = System.currentTimeMillis()
            val deliverable = st.msgs.iterator.filter { s =>
              (cs.filterSubject.isEmpty || Nats.subjectMatches(cs.filterSubject, s.subject)) &&
                !cs.acked.contains(s.seq) &&
                (cs.inflight.get(s.seq) match {
                  case Some((deadline, _)) => deadline <= now // redeliver expired lease
                  case None => true
                })
            }.take(batch).toVector
            deliverable.foreach { s =>
              val deliveries = cs.inflight.get(s.seq).map(_._2).getOrElse(0L) + 1
              cs.inflight(s.seq) = (now + ackWaitMs, deliveries)
              val ackSubject =
                s"$$JS.ACK.$stream.$durable.$deliveries.${s.seq}.${s.seq}.${now}000000.0"
              // the stored subject rides a header (the payload-routing
              // deviation documented on JsMsg); stored headers ride too
              nc.publishH(m.reply, s.payload,
                s.headers + ("Graft-Stream-Subject" -> s.subject), reply = ackSubject)
            }
          case _ => () // unknown consumer: no delivery; the fetch times out
        }
      } else if (subj.startsWith("$JS.ACK.")) {
        val parts = subj.stripPrefix("$JS.ACK.").split('.')
        val (stream, durable, sseq) = (parts(0), parts(1), parts(3).toLong)
        consumers.get((stream, durable)).foreach { cs =>
          cs.acked += sseq; cs.inflight.remove(sseq)
        }
      } else {
        // a message on a captured stream subject: store; PubAck if asked
        streams.values.find(_.subjects.exists(Nats.subjectMatches(_, subj))).foreach { st =>
          // Nats-Expected-Last-Subject-Sequence: the optimistic-concurrency
          // publish the KV layer's Create/Update ride (err_code 10071 on
          // mismatch, the public wrong-last-sequence error)
          val expected = m.headers.get("Nats-Expected-Last-Subject-Sequence").map(_.toLong)
          val lastForSubject = st.msgs.reverseIterator.find(_.subject == subj).map(_.seq).getOrElse(0L)
          if (expected.exists(_ != lastForSubject)) {
            reply(m.reply, Json.obj("stream" -> st.name, "error" -> Json.obj(
              "code" -> 400L, "err_code" -> 10071L,
              "description" -> s"wrong last sequence: $lastForSubject")))
          } else {
            // Nats-Rollup: sub — replace this subject's history (KV purge)
            if (m.headers.get("Nats-Rollup").contains("sub"))
              st.msgs.filterInPlace(_.subject != subj)
            st.seqGen += 1
            st.msgs += Stored(st.seqGen, subj, m.payload, m.headers)
            reply(m.reply, Json.obj("stream" -> st.name, "seq" -> st.seqGen))
          }
        }
      }
    }
  }

  // -------------------------------------------------------------- client
  /** Two core-NATS connections, mirroring nats.go: one for API requests
    * and acked publishes, one dedicated to the pull-fetch inbox so
    * control replies and deliveries never interleave. */
  final class JsClient(url: String) extends AutoCloseable {
    private val ctrl = new Nats.Client(url)
    private val pull = new Nats.Client(url)
    private val fetchInbox = s"_INBOX.js.${java.util.UUID.randomUUID().toString.take(8)}"
    pull.subscribe(fetchInbox)

    private def api(subject: String, body: VectorMap[String, Any]): VectorMap[String, Any] = {
      val resp = Json.asObj(Json.parse(new String(ctrl.request(subject, Json.render(body).getBytes(UTF_8)), UTF_8)))
      resp.get("error").foreach(e => throw new IllegalArgumentException(s"$subject: ${Json.render(e)}"))
      resp
    }

    def addStream(name: String, subjects: Seq[String]): Unit = {
      api(s"$$JS.API.STREAM.CREATE.$name",
        Json.obj("name" -> name, "subjects" -> subjects.toVector.map(s => s: Any))); ()
    }
    def addDurable(stream: String, durable: String, filterSubject: String = "",
                   deliverPolicy: String = "all"): Unit = {
      var cfg = Json.obj("durable_name" -> durable, "deliver_policy" -> deliverPolicy)
      if (filterSubject.nonEmpty) cfg = cfg.updated("filter_subject", filterSubject)
      api(s"$$JS.API.CONSUMER.DURABLE.CREATE.$stream.$durable",
        Json.obj("durable_name" -> durable, "config" -> cfg)); ()
    }

    /** acked publish — request on the stream subject, PubAck back
      * (output_jetstream.go's at-least-once contract) */
    def publish(subject: String, payload: Array[Byte]): PubAck =
      publishH(subject, payload, Map.empty)

    /** acked publish with headers (HPUB) — the optimistic-concurrency /
      * rollup controls of the KV layer ride these; a PubAck error
      * surfaces as the typed [[JsApiError]] */
    def publishH(subject: String, payload: Array[Byte],
                 headers: Map[String, String]): PubAck = {
      val ack = Json.asObj(Json.parse(new String(ctrl.requestH(subject, payload, headers), UTF_8)))
      ack.get("error").map(Json.asObj).foreach { e =>
        throw JsApiError(Json.long(e, "code"), Json.long(e, "err_code"),
          Json.str(e, "description"))
      }
      PubAck(Json.str(ack, "stream"), Json.long(ack, "seq"))
    }

    /** one directly-got stored message */
    final case class GotMsg(subject: String, seq: Long, payload: Array[Byte],
                            headers: Map[String, String])

    /** direct message get: the newest message on `lastBySubj`, or by
      * sequence; None when nothing stored */
    def msgGet(stream: String, lastBySubj: String = "", seq: Long = 0L): Option[GotMsg] = {
      val req = if (lastBySubj.nonEmpty) Json.obj("last_by_subj" -> lastBySubj)
                else Json.obj("seq" -> seq)
      val resp = Json.asObj(Json.parse(new String(
        ctrl.request(s"$$JS.API.STREAM.MSG.GET.$stream", Json.render(req).getBytes(UTF_8)), UTF_8)))
      resp.get("error").map(Json.asObj) match {
        case Some(e) if Json.long(e, "code") == 404L => None
        case Some(e) => throw JsApiError(Json.long(e, "code"), Json.long(e, "err_code"), Json.str(e, "description"))
        case None =>
          val msg = Json.asObj(resp("message"))
          val b64 = java.util.Base64.getDecoder
          val hdrs = msg.get("hdrs").collect { case s: String => s }
            .map(h => Nats.parseHeaders(b64.decode(h))).getOrElse(Map.empty[String, String])
          Some(GotMsg(Json.str(msg, "subject"), Json.long(msg, "seq"),
            b64.decode(Json.str(msg, "data")), hdrs))
      }
    }

    /** pull-consume: request up to `batch`, collect until the batch is
      * full or `maxWaitMs` passes with no delivery */
    def fetch(stream: String, durable: String, batch: Int, maxWaitMs: Int = 1000): Seq[JsMsg] = {
      pull.publish(s"$$JS.API.CONSUMER.MSG.NEXT.$stream.$durable",
        Json.render(Json.obj("batch" -> batch.toLong)).getBytes(UTF_8), reply = fetchInbox)
      val out = Vector.newBuilder[JsMsg]
      var n = 0
      var idle = false
      while (n < batch && !idle) pull.nextMsg(maxWaitMs) match {
        case Some(m) =>
          val ackParts = m.reply.stripPrefix("$JS.ACK.").split('.')
          // the true stream subject rides the Graft-Stream-Subject header
          // (delivery arrives on the inbox subject over core framing)
          val subj = m.headers.getOrElse("Graft-Stream-Subject", m.subject)
          out += JsMsg(subj, m.payload, m.reply, ackParts(3).toLong, ackParts(2).toLong,
            m.headers - "Graft-Stream-Subject")
          n += 1
        case None => idle = true
      }
      out.result()
    }

    def ack(m: JsMsg): Unit = pull.publish(m.ackSubject, "+ACK".getBytes(UTF_8))

    override def close(): Unit = { ctrl.close(); pull.close() }
  }
}
