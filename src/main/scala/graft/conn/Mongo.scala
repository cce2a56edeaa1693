package graft.conn

import java.io.DataInputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.{ByteBuffer, ByteOrder}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.concurrent.{TrieMap => CTrieMap}
import scala.collection.immutable.VectorMap
import scala.collection.mutable.ArrayBuffer

/** MongoDB connector family over the PUBLIC wire protocol: a
  * from-scratch BSON codec (the published bsonspec.org type table — the
  * subset the data model needs: double, string, document, array, binary,
  * boolean, null, int32, int64) and OP_MSG framing (opcode 2013,
  * section kind 0, the standard message header), speaking the modern
  * command set: insert / find / update / delete / findAndModify-free
  * cache verbs, with `ok`, `n`, `cursor.firstBatch` response shapes and
  * duplicate-key writeErrors (code 11000) on `_id` collisions.
  *
  * Reference surface being re-expressed (internal/impl/mongodb/):
  *  - processor.go — insert-one / delete-one / delete-many / replace-one
  *    / update-one / find-one per message with document/filter maps.
  *  - cache.go — a collection as a KV resource (upsert set, insert add).
  *  - input.go — a find (or aggregate) cursor over a collection.
  *  - output.go — batched writes, one client per pipeline.
  * The reference wraps go.mongodb.org/mongo-driver and has no protocol
  * code to port; wire shapes here come from the public specs.
  */
object Mongo {

  // ================================================================ BSON
  object Bson {
    def encodeDoc(doc: VectorMap[String, Any]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      writeDoc(out, doc)
      out.toByteArray
    }

    private def writeCString(out: java.io.ByteArrayOutputStream, s: String): Unit = {
      out.write(s.getBytes(UTF_8)); out.write(0)
    }
    private def writeInt32(out: java.io.ByteArrayOutputStream, v: Int): Unit =
      out.write(ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(v).array())
    private def writeInt64(out: java.io.ByteArrayOutputStream, v: Long): Unit =
      out.write(ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putLong(v).array())

    private def writeElement(out: java.io.ByteArrayOutputStream, name: String, v: Any): Unit = v match {
      case d: Double => out.write(0x01); writeCString(out, name); writeInt64(out, java.lang.Double.doubleToLongBits(d))
      case s: String =>
        out.write(0x02); writeCString(out, name)
        val b = s.getBytes(UTF_8); writeInt32(out, b.length + 1); out.write(b); out.write(0)
      case m: VectorMap[String @unchecked, Any @unchecked] =>
        out.write(0x03); writeCString(out, name); writeDoc(out, m)
      case arr: Vector[Any @unchecked] =>
        out.write(0x04); writeCString(out, name)
        writeDoc(out, VectorMap(arr.zipWithIndex.map { case (e, i) => i.toString -> e }: _*))
      case bytes: Array[Byte] =>
        out.write(0x05); writeCString(out, name)
        writeInt32(out, bytes.length); out.write(0x00 /* generic subtype */); out.write(bytes)
      case b: Boolean => out.write(0x08); writeCString(out, name); out.write(if (b) 1 else 0)
      case null => out.write(0x0A); writeCString(out, name)
      case i: Int => out.write(0x10); writeCString(out, name); writeInt32(out, i)
      case l: Long => out.write(0x12); writeCString(out, name); writeInt64(out, l)
      case other => throw new IllegalArgumentException(s"bson: cannot encode ${other.getClass.getSimpleName}")
    }

    private def writeDoc(out: java.io.ByteArrayOutputStream, doc: VectorMap[String, Any]): Unit = {
      val body = new java.io.ByteArrayOutputStream()
      doc.foreach { case (k, v) => writeElement(body, k, v) }
      writeInt32(out, body.size() + 5)
      body.writeTo(out)
      out.write(0)
    }

    def decodeDoc(bytes: Array[Byte]): VectorMap[String, Any] =
      readDoc(ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN))

    private def readCString(b: ByteBuffer): String = {
      val sb = new java.io.ByteArrayOutputStream()
      var c = b.get()
      while (c != 0) { sb.write(c); c = b.get() }
      new String(sb.toByteArray, UTF_8)
    }

    private def readDoc(b: ByteBuffer): VectorMap[String, Any] = {
      val len = b.getInt()
      val end = b.position() + len - 4
      val out = Vector.newBuilder[(String, Any)]
      while (b.position() < end - 1) {
        val tpe = b.get()
        val name = readCString(b)
        val v: Any = tpe match {
          case 0x01 => java.lang.Double.longBitsToDouble(b.getLong())
          case 0x02 =>
            val slen = b.getInt(); val sb = new Array[Byte](slen - 1); b.get(sb); b.get(); new String(sb, UTF_8)
          case 0x03 => readDoc(b)
          case 0x04 => readDoc(b).values.toVector
          case 0x05 =>
            val blen = b.getInt(); b.get() /* subtype */
            val bb = new Array[Byte](blen); b.get(bb); bb
          case 0x08 => b.get() != 0
          case 0x0A => null
          case 0x10 => b.getInt()
          case 0x12 => b.getLong()
          case other => throw new IllegalArgumentException(f"bson: unsupported type 0x$other%02x")
        }
        out += (name -> v)
      }
      require(b.get() == 0, "bson: missing document terminator")
      VectorMap(out.result(): _*)
    }
  }

  // ============================================================== OP_MSG
  private val OpMsg = 2013

  private def frame(requestId: Int, responseTo: Int, body: VectorMap[String, Any]): Array[Byte] = {
    val doc = Bson.encodeDoc(body)
    val len = 16 + 4 + 1 + doc.length
    val b = ByteBuffer.allocate(len).order(ByteOrder.LITTLE_ENDIAN)
    b.putInt(len).putInt(requestId).putInt(responseTo).putInt(OpMsg)
    b.putInt(0) // flagBits
    b.put(0.toByte) // section kind 0: body
    b.put(doc)
    b.array()
  }

  private def readFrame(in: DataInputStream): (Int, VectorMap[String, Any]) = {
    def i32(): Int = {
      val b = new Array[Byte](4); in.readFully(b)
      ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).getInt
    }
    val len = i32(); val reqId = i32(); i32() /* responseTo */
    val op = i32()
    require(op == OpMsg, s"unexpected opcode $op")
    val rest = new Array[Byte](len - 16); in.readFully(rest)
    val b = ByteBuffer.wrap(rest).order(ByteOrder.LITTLE_ENDIAN)
    b.getInt() // flags
    require(b.get() == 0, "expected section kind 0")
    val doc = new Array[Byte](b.remaining()); b.get(doc)
    (reqId, Bson.decodeDoc(doc))
  }

  // ------------------------------------------------------------- fixture
  /** In-memory MongoDB speaking OP_MSG: insert/find/update/delete with
    * equality + $gt/$gte/$lt/$lte/$ne filter matching, $set updates,
    * upserts, `_id` uniqueness with duplicate-key writeErrors. */
  final class MiniMongo {
    private val collections = new CTrieMap[(String, String), ArrayBuffer[VectorMap[String, Any]]]()
    // _id index (id -> doc) — dup checks AND bare-_id point lookups
    // must not scan the collection per document (O(n²) at gate volume)
    private val idIndex = new CTrieMap[(String, String), scala.collection.mutable.HashMap[Any, VectorMap[String, Any]]]()
    private def ids(db: String, name: String): scala.collection.mutable.HashMap[Any, VectorMap[String, Any]] =
      idIndex.getOrElseUpdate((db, name), scala.collection.mutable.HashMap[Any, VectorMap[String, Any]]())
    private def normId(v: Any): Any = v match {
      case i: Int => i.toLong
      case d: Double if d == math.rint(d) => d.toLong
      case other => other
    }
    @volatile private var listener: Wire.Listener = _
    def address: String = s"127.0.0.1:${listener.port}"
    def count(db: String, coll: String): Int =
      collections.get((db, coll)).map(c => c.synchronized(c.size)).getOrElse(0)

    private def coll(db: String, name: String): ArrayBuffer[VectorMap[String, Any]] =
      collections.getOrElseUpdate((db, name), new ArrayBuffer[VectorMap[String, Any]]())

    private def numEq(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Long, y: Int) => x == y.toLong
      case (x: Int, y: Long) => x.toLong == y
      case (x: Long, y: Double) => x.toDouble == y
      case (x: Double, y: Long) => x == y.toDouble
      case (x: Int, y: Double) => x.toDouble == y
      case (x: Double, y: Int) => x == y.toDouble
      case (x, y) => x == y
    }
    private def cmp(a: Any, b: Any): Int = (a, b) match {
      case (x: Long, y: Long) => x.compareTo(y)
      case (x: Double, y: Double) => x.compareTo(y)
      case (x: Long, y: Double) => x.toDouble.compareTo(y)
      case (x: Double, y: Long) => x.compareTo(y.toDouble)
      case (x: Int, y) => cmp(x.toLong, y)
      case (x, y: Int) => cmp(x, y.toLong)
      case (x: String, y: String) => x.compareTo(y)
      case _ => throw new IllegalArgumentException("uncomparable")
    }

    private def matches(doc: VectorMap[String, Any], filter: VectorMap[String, Any]): Boolean =
      filter.forall {
        case (field, cond: VectorMap[String @unchecked, Any @unchecked])
            if cond.keys.exists(_.startsWith("$")) =>
          cond.forall {
            case ("$eq", v) => doc.get(field).exists(numEq(_, v))
            case ("$ne", v) => !doc.get(field).exists(numEq(_, v))
            case ("$gt", v) => doc.get(field).exists(x => cmp(x, v) > 0)
            case ("$gte", v) => doc.get(field).exists(x => cmp(x, v) >= 0)
            case ("$lt", v) => doc.get(field).exists(x => cmp(x, v) < 0)
            case ("$lte", v) => doc.get(field).exists(x => cmp(x, v) <= 0)
            case (op, _) => throw new IllegalArgumentException(s"unsupported operator $op")
          }
        case (field, v) => doc.get(field).exists(numEq(_, v))
      }

    private def handle(req: VectorMap[String, Any]): VectorMap[String, Any] = {
      val db = req.get("$db").map(_.toString).getOrElse("test")
      req.head match {
        case ("insert", name: String) =>
          val c = coll(db, name)
          val index = ids(db, name)
          val docs = req("documents").asInstanceOf[Vector[Any]].map(_.asInstanceOf[VectorMap[String, Any]])
          val ordered = !req.get("ordered").contains(false) // mongod default: true
          c.synchronized {
            // real mongod persists the non-duplicate documents: ordered
            // inserts stop at the first error, unordered ones attempt
            // every document; writeErrors carry the per-entry index
            var n = 0L
            val errors = Vector.newBuilder[Any]
            var halted = false
            docs.zipWithIndex.foreach { case (d, i) =>
              if (!halted) {
                val dup = d.get("_id").exists(id => index.contains(normId(id)))
                if (dup) {
                  errors += VectorMap[String, Any]("index" -> i.toLong, "code" -> 11000L,
                    "errmsg" -> "E11000 duplicate key error")
                  if (ordered) halted = true
                } else {
                  c += d
                  d.get("_id").foreach(id => index(normId(id)) = d)
                  n += 1
                }
              }
            }
            val errs = errors.result()
            if (errs.isEmpty) VectorMap("n" -> n, "ok" -> 1.0)
            else VectorMap("n" -> n, "ok" -> 1.0, "writeErrors" -> errs)
          }

        case ("find", name: String) =>
          val c = coll(db, name)
          val filter = req.get("filter").map(_.asInstanceOf[VectorMap[String, Any]]).getOrElse(VectorMap.empty[String, Any])
          val limit = req.get("limit").map { case i: Int => i; case l: Long => l.toInt }.getOrElse(0)
          // bare _id equality rides the index — a point lookup must not
          // scan the collection (cache_mongodb issues O(rows) of these)
          val bareId = if (filter.size == 1) filter.get("_id").collect {
            case v: VectorMap[String @unchecked, Any @unchecked] if v.keySet == Set("$eq") => v("$eq")
            case v: VectorMap[String @unchecked, Any @unchecked] => null // other operators: scan
            case v => v
          }.filter(_ != null) else None
          val found = c.synchronized {
            bareId match {
              case Some(id) => ids(db, name).get(normId(id)).toVector
              case None => c.filter(matches(_, filter)).toVector
            }
          }
          val sliced = if (limit > 0) found.take(limit) else found
          VectorMap("cursor" -> VectorMap[String, Any](
            "firstBatch" -> sliced.map(d => d: Any), "id" -> 0L, "ns" -> s"$db.$name"), "ok" -> 1.0)

        case ("update", name: String) =>
          val c = coll(db, name)
          val updates = req("updates").asInstanceOf[Vector[Any]].map(_.asInstanceOf[VectorMap[String, Any]])
          var n = 0L; var upserted = 0L
          c.synchronized {
            updates.foreach { u =>
              val q = u("q").asInstanceOf[VectorMap[String, Any]]
              val setDoc = u("u").asInstanceOf[VectorMap[String, Any]]
              val multi = u.get("multi").contains(true)
              val idxs = c.zipWithIndex.filter { case (d, _) => matches(d, q) }.map(_._2)
              val hit = if (multi) idxs else idxs.take(1)
              if (hit.isEmpty && u.get("upsert").contains(true)) {
                // upsert: merge equality filter fields with $set
                val base = q.filter {
                  case (_, v: VectorMap[String @unchecked, Any @unchecked]) =>
                    !v.keys.exists(_.startsWith("$"))
                  case _ => true
                }
                val merged = setDoc.get("$set") match {
                  case Some(s: VectorMap[String @unchecked, Any @unchecked]) => base ++ s
                  case _ => setDoc
                }
                c += merged
                merged.get("_id").foreach(id => ids(db, name)(normId(id)) = merged)
                upserted += 1
              } else hit.foreach { i =>
                setDoc.get("$set") match {
                  case Some(s: VectorMap[String @unchecked, Any @unchecked]) => c(i) = c(i) ++ s
                  case _ => // replace-one semantics: full doc replacement, _id kept
                    c(i) = c(i).get("_id").map(id => VectorMap[String, Any]("_id" -> id) ++ setDoc).getOrElse(setDoc)
                }
                c(i).get("_id").foreach(id => ids(db, name)(normId(id)) = c(i))
                n += 1
              }
            }
          }
          VectorMap("n" -> (n + upserted), "nModified" -> n, "upserted" -> upserted, "ok" -> 1.0)

        case ("delete", name: String) =>
          val c = coll(db, name)
          val deletes = req("deletes").asInstanceOf[Vector[Any]].map(_.asInstanceOf[VectorMap[String, Any]])
          var n = 0L
          c.synchronized {
            deletes.foreach { d =>
              val q = d("q").asInstanceOf[VectorMap[String, Any]]
              val limit = d.get("limit").map { case i: Int => i; case l: Long => l.toInt }.getOrElse(0)
              var removed = 0
              var i = 0
              val index = ids(db, name)
              while (i < c.size) {
                if (matches(c(i), q) && (limit == 0 || removed < limit)) {
                  c(i).get("_id").foreach(id => index -= normId(id))
                  c.remove(i); removed += 1
                } else i += 1
              }
              n += removed
            }
          }
          VectorMap("n" -> n, "ok" -> 1.0)

        case ("hello", _) | ("isMaster", _) =>
          VectorMap("helloOk" -> true, "maxWireVersion" -> 17L, "ok" -> 1.0)
        case ("ping", _) => VectorMap("ok" -> 1.0)
        case (cmd, _) => VectorMap("ok" -> 0.0, "errmsg" -> s"no such command: '$cmd'", "code" -> 59L)
      }
    }

    def start(): this.type = { listener = Wire.listen("mini-mongo")(serve); this }

    private def serve(c: Wire.Conn): Unit = {
      val (in, out) = (c.in, c.out)
      var replyId = 1000
      while (true) {
        val (reqId, body) = readFrame(in)
        val resp = try handle(body) catch {
          case e: Throwable => VectorMap[String, Any]("ok" -> 0.0, "errmsg" -> String.valueOf(e.getMessage))
        }
        replyId += 1
        out.write(frame(replyId, reqId, resp)); out.flush()
      }
    }
    def stop(): Unit = if (listener != null) listener.close()
  }

  // -------------------------------------------------------------- client
  final class Client(address: String, db: String = "test") extends AutoCloseable {
    private val conn = Wire.connect("mongo", address)
    private val in = conn.in
    private val out = conn.out
    private val reqId = new AtomicInteger(1)

    def command(body: VectorMap[String, Any]): VectorMap[String, Any] = synchronized {
      out.write(frame(reqId.incrementAndGet(), 0, body ++ VectorMap[String, Any]("$db" -> db)))
      out.flush()
      val (_, resp) = readFrame(in)
      resp
    }
    private def ok(resp: VectorMap[String, Any], what: String): VectorMap[String, Any] = {
      require(resp.get("ok").contains(1.0), s"$what: ${resp.getOrElse("errmsg", resp)}")
      resp
    }

    def insert(coll: String, docs: Seq[VectorMap[String, Any]],
               ordered: Boolean = true): VectorMap[String, Any] =
      ok(command(VectorMap("insert" -> coll, "documents" -> docs.toVector.map(d => d: Any),
        "ordered" -> ordered)), "insert")

    def find(coll: String, filter: VectorMap[String, Any] = VectorMap.empty,
             limit: Int = 0): Vector[VectorMap[String, Any]] = {
      var cmd = VectorMap[String, Any]("find" -> coll, "filter" -> filter)
      if (limit > 0) cmd = cmd.updated("limit", limit)
      ok(command(cmd), "find")("cursor").asInstanceOf[VectorMap[String, Any]]("firstBatch")
        .asInstanceOf[Vector[Any]].map(_.asInstanceOf[VectorMap[String, Any]])
    }
    def findOne(coll: String, filter: VectorMap[String, Any]): Option[VectorMap[String, Any]] =
      find(coll, filter, limit = 1).headOption

    def updateOne(coll: String, q: VectorMap[String, Any], u: VectorMap[String, Any],
                  upsert: Boolean = false): VectorMap[String, Any] = {
      var entry = VectorMap[String, Any]("q" -> q, "u" -> u)
      if (upsert) entry = entry.updated("upsert", true)
      ok(command(VectorMap("update" -> coll, "updates" -> Vector[Any](entry))), "update")
    }

    def deleteMany(coll: String, q: VectorMap[String, Any]): Long =
      ok(command(VectorMap("delete" -> coll,
        "deletes" -> Vector[Any](VectorMap[String, Any]("q" -> q, "limit" -> 0)))), "delete")("n").asInstanceOf[Long]
    def deleteOne(coll: String, q: VectorMap[String, Any]): Long =
      ok(command(VectorMap("delete" -> coll,
        "deletes" -> Vector[Any](VectorMap[String, Any]("q" -> q, "limit" -> 1)))), "delete")("n").asInstanceOf[Long]

    override def close(): Unit = { try out.flush() catch { case _: Throwable => () }; conn.close() }
  }

  // ------------------------------------------------------- cache backend
  /** cache.go: a collection as KV — key field equality, value in a
    * binary field; set is an upsert update, add maps duplicate-key to
    * false (the reference's ErrKeyAlreadyExists path). */
  final class Cache(address: String, collection: String, prefix: String = "")
      extends graft.operators.CacheBackends.KvBackend {
    private val c = new Client(address)
    private def q(key: String) = VectorMap[String, Any]("_id" -> (prefix + key))

    def get(key: String): Option[Array[Byte]] =
      c.findOne(collection, q(key)).map(_("v").asInstanceOf[Array[Byte]])
    def set(key: String, value: Array[Byte], ttlMs: Long = 0): Unit = {
      c.updateOne(collection, q(key),
        VectorMap[String, Any]("$set" -> VectorMap[String, Any]("v" -> value)), upsert = true); ()
    }
    def add(key: String, value: Array[Byte], ttlMs: Long = 0): Boolean = {
      val resp = c.insert(collection, Seq(q(key).updated("v", value)))
      !resp.contains("writeErrors")
    }
    def delete(key: String): Unit = { c.deleteOne(collection, q(key)); () }
    override def close(): Unit = c.close()
  }
}
