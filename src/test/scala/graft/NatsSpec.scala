package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{CountDownLatch, TimeUnit}

import graft.conn.{Nats, Wire}
import org.scalatest.funsuite.AnyFunSuite

/** NATS core protocol: subject matching per the public spec, pub/sub
  * routing, queue groups, request/reply, server PING handling. */
class NatsSpec extends AnyFunSuite {

  test("subject wildcard matching follows the spec") {
    assert(Nats.subjectMatches("foo.bar", "foo.bar"))
    assert(!Nats.subjectMatches("foo.bar", "foo.baz"))
    assert(Nats.subjectMatches("foo.*", "foo.bar"))
    assert(!Nats.subjectMatches("foo.*", "foo.bar.baz")) // * is ONE token
    assert(Nats.subjectMatches("foo.>", "foo.bar.baz"))  // > is 1+ tokens
    assert(!Nats.subjectMatches("foo.>", "foo"))
    assert(Nats.subjectMatches("*.bar", "foo.bar"))
    assert(Nats.subjectMatches(">", "anything.at.all"))
    assert(!Nats.subjectMatches("foo", "foo.bar"))
  }

  private def withServer[T](f: Nats.MiniNats => T): T = {
    val srv = new Nats.MiniNats().start()
    try f(srv) finally srv.stop()
  }

  test("publish/subscribe round-trip with binary payload and reply subject") {
    withServer { srv =>
      val sub = new Nats.Client(srv.url)
      val pub = new Nats.Client(srv.url)
      try {
        sub.subscribe("data.items")
        Thread.sleep(50) // sub registration races the first publish
        val blob = Array[Byte](0, 13, 10, -1, 65)
        pub.publish("data.items", blob, reply = "answers.here")
        val m = sub.nextMsg()
        assert(m.subject == "data.items" && m.reply == "answers.here")
        assert(m.payload.toSeq == blob.toSeq)
      } finally { sub.close(); pub.close() }
    }
  }

  test("wildcard subscription receives multiple subjects; non-match filtered") {
    withServer { srv =>
      val sub = new Nats.Client(srv.url)
      val pub = new Nats.Client(srv.url)
      try {
        sub.subscribe("ev.*")
        Thread.sleep(50)
        pub.publish("ev.click", "a".getBytes(UTF_8))
        pub.publish("other.subject", "x".getBytes(UTF_8)) // must NOT arrive
        pub.publish("ev.view", "b".getBytes(UTF_8))
        assert(new String(sub.nextMsg().payload, UTF_8) == "a")
        assert(new String(sub.nextMsg().payload, UTF_8) == "b")
      } finally { sub.close(); pub.close() }
    }
  }

  test("queue group: each message goes to exactly ONE member") {
    withServer { srv =>
      val members = (1 to 3).map(_ => new Nats.Client(srv.url))
      val pub = new Nats.Client(srv.url)
      try {
        members.foreach(_.subscribe("jobs", queue = "workers"))
        Thread.sleep(50)
        (1 to 30).foreach(i => pub.publish("jobs", s"j$i".getBytes(UTF_8)))
        // drain each member on its own thread (nextMsg blocks when empty)
        val counts = new java.util.concurrent.atomic.AtomicInteger(0)
        val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
        val done = new CountDownLatch(3)
        members.foreach { m =>
          val th = new Thread(() => {
            try {
              while (true) {
                val msg = m.nextMsg()
                seen.add(new String(msg.payload, UTF_8))
                counts.incrementAndGet()
              }
            } catch { case _: Throwable => () } finally done.countDown()
          })
          th.setDaemon(true); th.start()
        }
        val deadline = System.currentTimeMillis + 5000
        while (counts.get() < 30 && System.currentTimeMillis < deadline) Thread.sleep(20)
        assert(counts.get() == 30, "every job delivered exactly once in total")
        assert(seen.size == 30, "no duplicates across the group")
      } finally { members.foreach(_.close()); pub.close() }
    }
  }

  test("request/reply through a responder service") {
    withServer { srv =>
      val responderReady = new CountDownLatch(1)
      val responder = new Thread(() => {
        val c = new Nats.Client(srv.url)
        try {
          c.subscribe("svc.double")
          responderReady.countDown()
          while (true) {
            val m = c.nextMsg()
            val n = new String(m.payload, UTF_8).toLong
            c.publish(m.reply, (n * 2).toString.getBytes(UTF_8))
          }
        } catch { case _: Throwable => () } finally c.close()
      })
      responder.setDaemon(true); responder.start()
      assert(responderReady.await(5, TimeUnit.SECONDS))
      Thread.sleep(50)
      val client = new Nats.Client(srv.url)
      try {
        (1 to 5).foreach { i =>
          val rep = client.request("svc.double", i.toString.getBytes(UTF_8))
          assert(new String(rep, UTF_8) == (i * 2).toString)
        }
      } finally client.close()
    }
  }

  test("a request with no responder fails with a named timeout within the deadline") {
    withServer { srv =>
      val client = new Nats.Client(srv.url)
      try {
        val t0 = System.nanoTime()
        val e = intercept[java.io.IOException](client.request("nobody.home", "x".getBytes(UTF_8)))
        val ms = (System.nanoTime() - t0) / 1000000
        assert(ms >= Wire.TimeoutMs - 100 && ms < Wire.TimeoutMs + 2000, s"gave up after $ms ms")
        assert(e.getMessage.contains("'nobody.home'") && e.getMessage.contains(s"${Wire.TimeoutMs} ms"))
      } finally client.close()
    }
  }

  test("a reply that arrives after its request timed out is never handed to a later request") {
    withServer { srv =>
      val responder = new Nats.Client(srv.url)
      val client = new Nats.Client(srv.url)
      try {
        responder.subscribe("svc.slow"); responder.subscribe("svc.fast"); responder.flush()
        intercept[java.io.IOException](client.request("svc.slow", "1".getBytes(UTF_8)))
        // answer the timed-out request now; the flush round trip puts the
        // late reply on the client's socket ahead of the next request's
        val slow = responder.nextMsg()
        responder.publish(slow.reply, "late".getBytes(UTF_8)); responder.flush()
        val fast = new Thread(() => {
          val m = responder.nextMsg()
          responder.publish(m.reply, "fast".getBytes(UTF_8))
        })
        fast.setDaemon(true); fast.start()
        assert(new String(client.request("svc.fast", "2".getBytes(UTF_8)), UTF_8) == "fast")
      } finally { client.close(); responder.close() }
    }
  }
}
