package graft.conn

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException, InputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable

/** Beanstalkd work queue (internal/impl/beanstalkd/: input.go:82-102
  * reserve→Delete-on-ack/Release-on-nack, output.go:89 Put(pri 2, ttr 2s)
  * — the reference wraps go-beanstalk) — both ends from the PUBLIC
  * beanstalkd protocol doc: ASCII command lines, CRLF-delimited, with
  * binary-safe size-prefixed job bodies.
  *
  * Commands spoken: `use`/`watch`/`ignore` (tube selection),
  * `put <pri> <delay> <ttr> <bytes>` → `INSERTED <id>`,
  * `reserve-with-timeout <sec>` → `RESERVED <id> <bytes>` | `TIMED_OUT`,
  * `delete` → `DELETED`, `release <id> <pri> <delay>` → `RELEASED`,
  * `bury`/`kick`/`touch`. Queue semantics the fixture honors: ready jobs
  * order by (pri asc, FIFO within pri) MERGED across watched tubes;
  * `delay` holds a job invisible; a reserved job whose TTR lapses — or
  * whose reserving connection dies — returns to the FRONT of its
  * priority class (at-least-once). Declared out: `stats*`/`list-tubes`
  * YAML introspection, `pause-tube`, `peek*` (debug surface, not data
  * path), DEADLINE_SOON safety margin.
  */
object Beanstalkd {

  private def readExact(in: InputStream, n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(buf, off, n - off)
      if (r < 0) throw new EOFException(s"beanstalkd stream closed at $off/$n bytes")
      off += r
    }
    buf
  }

  private def readLine(in: InputStream): String = {
    val sb = new java.lang.StringBuilder
    var c = in.read()
    while (c != '\n') {
      if (c < 0) throw new EOFException("beanstalkd stream closed mid-line")
      if (c != '\r') sb.append(c.toChar)
      c = in.read()
    }
    sb.toString
  }

  private def expectCrlf(in: InputStream): Unit = {
    val (cr, lf) = (in.read(), in.read())
    if (cr != '\r' || lf != '\n')
      throw new java.io.IOException("job body not CRLF-terminated")
  }

  /** One reserved job. */
  final case class Reserved(id: Long, body: Array[Byte])

  // -------------------------------------------------------------- server

  /** Minimal beanstalkd: tubes with ready/delayed/reserved/buried job
    * states, priority ordering, TTR + death requeue, blocking reserves. */
  final class MiniBeanstalkd {
    private final case class Job(id: Long, pri: Long, seq: Long,
                                 body: Array[Byte], tube: String, ttrMillis: Long)
    private implicit val readyOrder: Ordering[Job] =
      Ordering.by(j => (j.pri, j.seq))
    private final class Tube {
      val ready = mutable.TreeSet.empty[Job]
      val delayed = mutable.ArrayBuffer[(Long, Job)]() // (readyAtMillis, job)
      val buried = mutable.LinkedHashMap[Long, Job]()
    }
    private val lock = new Object
    private val tubes = mutable.HashMap[String, Tube]()
    // id → (job, deadlineMillis, owning socket)
    private val reserved = mutable.HashMap[Long, (Job, Long, Socket)]()
    private val idGen = new AtomicLong(0)
    private val seqGen = new AtomicLong(0)
    private val running = new AtomicBoolean(true)
    private var server: ServerSocket = _

    def start(): MiniBeanstalkd = {
      server = new ServerSocket(0, 64, InetAddress.getLoopbackAddress)
      val acceptor = new Thread(() => {
        while (running.get()) {
          try {
            val s = server.accept()
            val th = new Thread(() => serve(s)); th.setDaemon(true); th.start()
          } catch { case _: Throwable => () }
        }
      }, "mini-beanstalkd-accept")
      acceptor.setDaemon(true)
      acceptor.start()
      this
    }

    def port: Int = server.getLocalPort
    def address: String = s"127.0.0.1:$port"
    def stop(): Unit = {
      running.set(false)
      try server.close() catch { case _: Throwable => () }
    }

    private def tube(name: String): Tube =
      tubes.getOrElseUpdate(name, new Tube)

    /** Promote lapsed delayed jobs and TTR-expired reservations. Callers
      * hold `lock`. Returns true if anything became ready. */
    private def tick(): Boolean = {
      val now = System.currentTimeMillis()
      var woke = false
      tubes.valuesIterator.foreach { t =>
        val due = t.delayed.filter(_._1 <= now)
        if (due.nonEmpty) {
          t.delayed.filterInPlace(_._1 > now)
          due.foreach { case (_, j) => t.ready.add(j) }
          woke = true
        }
      }
      val lapsed = reserved.collect { case (id, (j, dl, _)) if dl <= now => (id, j) }
      lapsed.foreach { case (id, j) =>
        reserved.remove(id)
        // requeue at the front of its priority class: same pri, original seq
        tube(j.tube).ready.add(j)
        woke = true
      }
      woke
    }

    private def releaseAllOf(sock: Socket): Unit = lock.synchronized {
      val mine = reserved.collect { case (id, (j, _, s)) if s eq sock => (id, j) }
      mine.foreach { case (id, j) =>
        reserved.remove(id)
        tube(j.tube).ready.add(j)
      }
      if (mine.nonEmpty) lock.notifyAll()
    }

    private def serve(sock: Socket): Unit = {
      sock.setTcpNoDelay(true)
      val in = new BufferedInputStream(sock.getInputStream)
      val out = new BufferedOutputStream(sock.getOutputStream)
      var used = "default"
      val watched = mutable.LinkedHashSet("default")
      def reply(s: String): Unit = { out.write((s + "\r\n").getBytes(UTF_8)); out.flush() }
      try {
        while (true) {
          val parts = readLine(in).split(" ")
          parts(0) match {
            case "use" =>
              used = parts(1); reply(s"USING $used")
            case "watch" =>
              watched.add(parts(1)); reply(s"WATCHING ${watched.size}")
            case "ignore" =>
              if (watched.size <= 1) reply("NOT_IGNORED")
              else { watched.remove(parts(1)); reply(s"WATCHING ${watched.size}") }
            case "put" =>
              val (pri, delaySec, ttrSec, n) =
                (parts(1).toLong, parts(2).toLong, parts(3).toLong, parts(4).toInt)
              val body = readExact(in, n)
              expectCrlf(in)
              val id = idGen.incrementAndGet()
              // ttr floor of 1s per the protocol doc
              val job = Job(id, pri, seqGen.incrementAndGet(), body, used,
                math.max(ttrSec, 1L) * 1000)
              lock.synchronized {
                if (delaySec > 0)
                  tube(used).delayed.append((System.currentTimeMillis() + delaySec * 1000, job))
                else tube(used).ready.add(job)
                lock.notifyAll()
              }
              reply(s"INSERTED $id")
            case "reserve" | "reserve-with-timeout" =>
              val deadline =
                if (parts(0) == "reserve") Long.MaxValue
                else System.currentTimeMillis() + parts(1).toLong * 1000
              var answered = false
              while (!answered) {
                val hit = lock.synchronized {
                  tick()
                  val candidates = watched.iterator.flatMap(w => tube(w).ready.headOption)
                  if (candidates.isEmpty) None
                  else {
                    val j = candidates.min(readyOrder)
                    tube(j.tube).ready.remove(j)
                    reserved(j.id) = (j, System.currentTimeMillis() + j.ttrMillis, sock)
                    Some(j)
                  }
                }
                hit match {
                  case Some(j) =>
                    out.write(s"RESERVED ${j.id} ${j.body.length}\r\n".getBytes(UTF_8))
                    out.write(j.body)
                    out.write("\r\n".getBytes(UTF_8))
                    out.flush()
                    answered = true
                  case None =>
                    val now = System.currentTimeMillis()
                    if (now >= deadline) { reply("TIMED_OUT"); answered = true }
                    else lock.synchronized {
                      // wake on put/release/death or every 50ms for
                      // delayed-job promotion and TTR lapses
                      lock.wait(math.min(50L, math.max(1L, deadline - now)))
                    }
                }
              }
            case "delete" =>
              val id = parts(1).toLong
              val ok = lock.synchronized {
                reserved.remove(id).isDefined ||
                  tubes.valuesIterator.exists { t =>
                    t.ready.find(_.id == id).exists(t.ready.remove) ||
                      t.buried.remove(id).isDefined
                  }
              }
              reply(if (ok) "DELETED" else "NOT_FOUND")
            case "release" =>
              val (id, pri, delaySec) = (parts(1).toLong, parts(2).toLong, parts(3).toLong)
              val ok = lock.synchronized {
                reserved.remove(id) match {
                  case Some((j, _, _)) =>
                    val nj = j.copy(pri = pri)
                    if (delaySec > 0)
                      tube(j.tube).delayed.append((System.currentTimeMillis() + delaySec * 1000, nj))
                    else tube(j.tube).ready.add(nj)
                    lock.notifyAll()
                    true
                  case None => false
                }
              }
              reply(if (ok) "RELEASED" else "NOT_FOUND")
            case "bury" =>
              val id = parts(1).toLong
              val ok = lock.synchronized {
                reserved.remove(id) match {
                  case Some((j, _, _)) =>
                    tube(j.tube).buried(id) = j.copy(pri = parts(2).toLong); true
                  case None => false
                }
              }
              reply(if (ok) "BURIED" else "NOT_FOUND")
            case "kick" =>
              val bound = parts(1).toInt
              val n = lock.synchronized {
                val t = tube(used)
                val ids = t.buried.keys.take(bound).toVector
                ids.foreach { id => t.ready.add(t.buried.remove(id).get) }
                if (ids.nonEmpty) lock.notifyAll()
                ids.size
              }
              reply(s"KICKED $n")
            case "touch" =>
              val id = parts(1).toLong
              val ok = lock.synchronized {
                reserved.get(id) match {
                  case Some((j, _, s)) if s eq sock =>
                    // touch grants a full TTR from now (beanstalkd protocol: "allow a worker
                    // to request more time to work on a job"), not a fixed window.
                    reserved(id) = (j, System.currentTimeMillis() + j.ttrMillis, s); true
                  case _ => false
                }
              }
              reply(if (ok) "TOUCHED" else "NOT_FOUND")
            case "quit" =>
              sock.close(); return
            case _ =>
              reply("UNKNOWN_COMMAND")
          }
        }
      } catch {
        case _: EOFException => ()
        case _: java.net.SocketException => ()
      } finally {
        releaseAllOf(sock)
        try sock.close() catch { case _: Throwable => () }
      }
    }
  }

  // -------------------------------------------------------------- client

  /** Blocking client — one per partition in operators (the reference holds
    * one go-beanstalk Conn per component, output.go:40). */
  final class Client(address: String) extends AutoCloseable {
    private val Array(h, p) = address.split(":")
    private val sock = new Socket(h, p.toInt)
    sock.setTcpNoDelay(true)
    private val in = new BufferedInputStream(sock.getInputStream)
    private val out = new BufferedOutputStream(sock.getOutputStream)

    private def send(line: String): Unit = {
      out.write((line + "\r\n").getBytes(UTF_8)); out.flush()
    }
    private def replyLine(): Array[String] = readLine(in).split(" ")

    def use(tube: String): Unit = synchronized {
      send(s"use $tube")
      val r = replyLine()
      if (r(0) != "USING") throw new java.io.IOException(s"use failed: ${r.mkString(" ")}")
    }
    def watch(tube: String): Int = synchronized {
      send(s"watch $tube")
      val r = replyLine()
      if (r(0) != "WATCHING") throw new java.io.IOException(s"watch failed: ${r.mkString(" ")}")
      r(1).toInt
    }
    def ignore(tube: String): Int = synchronized {
      send(s"ignore $tube")
      val r = replyLine()
      if (r(0) != "WATCHING") throw new java.io.IOException(s"ignore failed: ${r.mkString(" ")}")
      r(1).toInt
    }

    /** `put` with the reference writer's defaults (output.go:89: pri 2,
      * no delay, 2s TTR). Returns the job id. */
    def put(body: Array[Byte], pri: Long = 2, delaySec: Long = 0, ttrSec: Long = 2): Long =
      synchronized {
        out.write(s"put $pri $delaySec $ttrSec ${body.length}\r\n".getBytes(UTF_8))
        out.write(body)
        out.write("\r\n".getBytes(UTF_8))
        out.flush()
        val r = replyLine()
        if (r(0) != "INSERTED") throw new java.io.IOException(s"put failed: ${r.mkString(" ")}")
        r(1).toLong
      }

    /** `reserve-with-timeout`; None on TIMED_OUT (the reference reserves
      * with a 200ms timeout per read, input.go:87). */
    def reserve(timeoutSec: Long): Option[Reserved] = synchronized {
      send(s"reserve-with-timeout $timeoutSec")
      val r = replyLine()
      r(0) match {
        case "RESERVED" =>
          val body = readExact(in, r(2).toInt)
          expectCrlf(in)
          Some(Reserved(r(1).toLong, body))
        case "TIMED_OUT" | "DEADLINE_SOON" => None
        case other => throw new java.io.IOException(s"reserve failed: $other")
      }
    }

    /** Ack (input.go:98). */
    def delete(id: Long): Boolean = synchronized {
      send(s"delete $id"); replyLine()(0) == "DELETED"
    }
    /** Nack → back of the ready queue at pri 2 (input.go:100). The reference releases with a
      * 200ms backoff delay; the beanstalkd wire protocol's delay field is whole seconds, so the
      * closest representable values are 0s (immediate, our default) or 1s — we keep 0 and note
      * the deviation here rather than inflate the backoff 5×. */
    def release(id: Long, pri: Long = 2, delaySec: Long = 0): Boolean = synchronized {
      send(s"release $id $pri $delaySec"); replyLine()(0) == "RELEASED"
    }
    def bury(id: Long, pri: Long = 2): Boolean = synchronized {
      send(s"bury $id $pri"); replyLine()(0) == "BURIED"
    }
    def kick(bound: Int): Int = synchronized {
      send(s"kick $bound")
      val r = replyLine()
      if (r(0) != "KICKED") throw new java.io.IOException("kick failed")
      r(1).toInt
    }
    def touch(id: Long): Boolean = synchronized {
      send(s"touch $id"); replyLine()(0) == "TOUCHED"
    }

    override def close(): Unit = { try sock.close() catch { case _: Throwable => () } }
  }
}
