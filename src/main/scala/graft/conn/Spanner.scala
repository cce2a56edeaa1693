package graft.conn

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.immutable.VectorMap
import scala.collection.mutable.ArrayBuffer

import graft.conn.Aws.Json
import graft.functions.ProtoSchema

/** Spanner change streams for gcp_spanner_cdc
  * (internal/impl/gcp/input_spanner_cdc.go — the reference wraps
  * cloud.google.com/go/spanner), over the PUBLIC wire:
  *
  *  - the google.spanner.v1 gRPC surface, compiled from a
  *    field-number-preserving proto subset by the in-repo proto
  *    compiler and served over the from-scratch gRPC/HTTP2/HPACK
  *    stack: CreateSession, ExecuteSql (the DML write path),
  *    ExecuteStreamingSql (server-streaming PartialResultSet with
  *    resume tokens).
  *  - the change-stream TVF query the reference builds verbatim
  *    (input_spanner_cdc.go:358): `SELECT ChangeRecord FROM
  *    READ_<stream>(@start_timestamp, @end_timestamp,
  *    @partition_token, @heartbeat_milliseconds)`.
  *  - the documented partition-token protocol: a NULL token yields
  *    ChildPartitionsRecords naming the initial partitions; each
  *    token's query replays that partition's DataChangeRecords
  *    (commit_timestamp, record_sequence, mod_type, keys/new_values
  *    mods) interleaved with HeartbeatRecords, bounded by
  *    end_timestamp. Change records cross as ONE JSON-typed column —
  *    the POSTGRESQL-dialect change-stream encoding (GoogleSQL
  *    databases return ARRAY<STRUCT>; same record schema, documented
  *    JSON rendering — declared deviation).
  *
  * Writes route to partitions by primary-key hash, so each token's
  * reader sees a disjoint slice — the shape that makes one Spark task
  * per partition token the natural consumer.
  */
object Spanner {

  private val Schema = """
    syntax = "proto3";
    package google.spanner.v1;
    message CreateSessionRequest { string database = 1; }
    message Session { string name = 1; }
    message ExecuteSqlRequest {
      string session = 1; string sql = 3; google.protobuf.Struct params = 4;
    }
    message ResultSetMetadata { StructType row_type = 1; }
    message StructType { repeated Field fields = 1; }
    message Field { string name = 1; Type type = 2; }
    message Type { int32 code = 1; }
    message ResultSet {
      ResultSetMetadata metadata = 1; repeated google.protobuf.ListValue rows = 2;
    }
    message PartialResultSet {
      ResultSetMetadata metadata = 1; repeated google.protobuf.Value values = 2;
      bool chunked_value = 3; bytes resume_token = 4;
    }
  """
  private lazy val reg = ProtoSchema.registryForText(Schema)
  private def enc(fqn: String, json: VectorMap[String, Any]): Array[Byte] =
    ProtoSchema.fromJson(reg, s"google.spanner.v1.$fqn", Json.render(json), discardUnknown = false)
  private def dec(fqn: String, bytes: Array[Byte]): VectorMap[String, Any] =
    Json.asObj(Json.parse(ProtoSchema.toJson(reg, s"google.spanner.v1.$fqn", bytes)))

  private val TypeCodeJson = 11L // google.spanner.v1.TypeCode.JSON

  // ------------------------------------------------------------- fixture
  private final case class Change(partition: Int, commitTs: Long, seq: Long,
                                  table: String, keys: VectorMap[String, Any],
                                  newValues: VectorMap[String, Any])

  /** mini spanner: DML inserts with a commit-timestamp oracle feeding a
    * change stream partitioned by primary-key hash into `partitions`
    * tokens */
  final class MiniSpanner(streamName: String, watchedTable: String,
                          partitions: Int = 4) {
    private val lock = new Object
    private val changes = new ArrayBuffer[Change]()
    private var commitTs = 0L
    private var grpc: Grpc.GrpcServer = _

    def port: Int = grpc.port
    def changeCount: Int = lock.synchronized(changes.size)

    private def tokenOf(p: Int) = s"pt-$streamName-$p"
    private def partitionOfKey(key: Any): Int =
      math.abs(scala.util.hashing.MurmurHash3.stringHash(String.valueOf(key))) % partitions

    private val insertRe =
      "(?is)^\\s*INSERT\\s+INTO\\s+(\\w+)\\s*\\(([^)]*)\\)\\s*VALUES\\s*\\(([^)]*)\\)\\s*$".r
    private val readTvfRe =
      ("(?is)^\\s*SELECT\\s+ChangeRecord\\s+FROM\\s+READ_(\\w+)\\s*\\(\\s*" +
        "@start_timestamp\\s*,\\s*@end_timestamp\\s*,\\s*@partition_token\\s*,\\s*" +
        "@heartbeat_milliseconds\\s*\\)\\s*$").r

    private def handleExecuteSql(reqBytes: Array[Byte]): Array[Byte] = {
      val req = dec("ExecuteSqlRequest", reqBytes)
      val sql = Json.str(req, "sql")
      val params = req.get("params").map(Json.asObj).getOrElse(VectorMap.empty[String, Any])
      sql match {
        case insertRe(table, colsS, valsS) =>
          require(table == watchedTable, s"unknown table $table")
          val cols = colsS.split(',').map(_.trim).toVector
          val vals = valsS.split(',').map(_.trim).toVector.map { v =>
            require(v.startsWith("@"), s"only parameterized values supported: $v")
            params.getOrElse(v.substring(1),
              throw new IllegalArgumentException(s"missing param $v"))
          }
          require(cols.size == vals.size, "column/value arity mismatch")
          val row = VectorMap(cols.zip(vals): _*)
          lock.synchronized {
            commitTs += 1
            val pk = vals.head // first column is the primary key
            changes += Change(partitionOfKey(pk), commitTs, changes.size.toLong,
              table, VectorMap(cols.head -> pk), row)
          }
          enc("ResultSet", Json.obj("metadata" -> Json.obj()))
        case other => throw new IllegalArgumentException(s"unsupported sql: $other")
      }
    }

    private def changeRecordJson(c: Change): String = Json.render(Json.obj(
      "data_change_record" -> Vector[Any](Json.obj(
        "commit_timestamp" -> c.commitTs, "record_sequence" -> c.seq.toString,
        "table_name" -> c.table, "mod_type" -> "INSERT",
        "mods" -> Vector[Any](Json.obj("keys" -> c.keys, "new_values" -> c.newValues))))))

    private def childPartitionsJson(tokens: Seq[String]): String = Json.render(Json.obj(
      "child_partitions_record" -> Vector[Any](Json.obj(
        "record_sequence" -> "0",
        "child_partitions" -> tokens.toVector.map(t =>
          Json.obj("token" -> t, "parent_partition_tokens" -> Vector.empty[Any]): Any)))))

    private def heartbeatJson(ts: Long): String = Json.render(Json.obj(
      "heartbeat_record" -> Vector[Any](Json.obj("timestamp" -> ts))))

    private def metadata(): VectorMap[String, Any] =
      Json.obj("metadata" -> Json.obj("rowType" -> Json.obj("fields" -> Vector[Any](
        Json.obj("name" -> "ChangeRecord", "type" -> Json.obj("code" -> TypeCodeJson))))))

    private def handleStreaming(reqBytes: Array[Byte], emit: Array[Byte] => Unit): Unit = {
      val req = dec("ExecuteSqlRequest", reqBytes)
      val sql = Json.str(req, "sql")
      val params = req.get("params").map(Json.asObj).getOrElse(VectorMap.empty[String, Any])
      sql match {
        case readTvfRe(stream) =>
          require(stream == streamName, s"unknown change stream $stream")
          def ts(k: String): Long = params.get(k) match {
            case Some(l: Long) => l; case Some(d: Double) => d.toLong
            case Some(s: String) => s.toLong; case _ => 0L
          }
          val start = ts("start_timestamp")
          val end = params.get("end_timestamp") match {
            case Some(null) | None => Long.MaxValue
            case Some(v) => String.valueOf(v).toLong
          }
          val token = params.get("partition_token") match {
            case Some(s: String) => Some(s); case _ => None
          }
          var first = true
          var n = 0
          def emitRow(json: String): Unit = {
            var msg = Json.obj("values" -> Vector[Any](json),
              "resumeToken" -> java.util.Base64.getEncoder.encodeToString(
                n.toString.getBytes(UTF_8)))
            if (first) { msg = metadata() ++ msg; first = false }
            emit(enc("PartialResultSet", msg)); n += 1
          }
          token match {
            case None =>
              // the initial query: name the partition tree's roots
              emitRow(childPartitionsJson((0 until partitions).map(tokenOf)))
            case Some(t) =>
              val p = (0 until partitions).find(i => tokenOf(i) == t)
                .getOrElse(throw new IllegalArgumentException(s"unknown partition token $t"))
              val mine = lock.synchronized(changes.toVector)
                .filter(c => c.partition == p && c.commitTs >= start && c.commitTs < end)
              mine.foreach(c => emitRow(changeRecordJson(c)))
              // the documented liveness signal before the window closes
              emitRow(heartbeatJson(math.min(end, lock.synchronized(commitTs) + 1)))
          }
        case other => throw new IllegalArgumentException(s"unsupported streaming sql: $other")
      }
    }

    def start(): this.type = {
      grpc = new Grpc.GrpcServer(Map(
        "/google.spanner.v1.Spanner/CreateSession" -> Grpc.Unary { reqBytes =>
          val req = dec("CreateSessionRequest", reqBytes)
          enc("Session", Json.obj("name" ->
            s"${Json.str(req, "database")}/sessions/s-${java.util.UUID.randomUUID().toString.take(8)}"))
        },
        "/google.spanner.v1.Spanner/ExecuteSql" -> Grpc.Unary(handleExecuteSql),
        "/google.spanner.v1.Spanner/ExecuteStreamingSql" ->
          Grpc.ServerStreaming(handleStreaming))).start()
      this
    }
    def stop(): Unit = if (grpc != null) grpc.stop()
  }

  // -------------------------------------------------------------- client
  final case class DataChange(commitTimestamp: Long, table: String, modType: String,
                              keys: VectorMap[String, Any], newValues: VectorMap[String, Any])

  final class Client(host: String, port: Int,
                     database: String = "projects/p/instances/i/databases/d") extends AutoCloseable {
    private val grpc = new Grpc.Client(host, port)
    private val session = {
      val resp = dec("Session", grpc.unary("/google.spanner.v1.Spanner/CreateSession",
        enc("CreateSessionRequest", Json.obj("database" -> database))))
      Json.str(resp, "name")
    }

    /** parameterized DML insert (the write path feeding the stream) */
    def insert(table: String, row: Seq[(String, Any)]): Unit = {
      val cols = row.map(_._1)
      val sql = s"INSERT INTO $table (${cols.mkString(", ")}) VALUES (${cols.map("@" + _).mkString(", ")})"
      grpc.unary("/google.spanner.v1.Spanner/ExecuteSql",
        enc("ExecuteSqlRequest", Json.obj("session" -> session, "sql" -> sql,
          "params" -> VectorMap(row: _*)))); ()
    }

    private def streamQuery(sql: String, params: VectorMap[String, Any]): Vector[String] = {
      val call = grpc.serverStream("/google.spanner.v1.Spanner/ExecuteStreamingSql",
        enc("ExecuteSqlRequest", Json.obj("session" -> session, "sql" -> sql,
          "params" -> params)))
      val out = Vector.newBuilder[String]
      var next = call.next()
      while (next.isDefined) {
        val prs = dec("PartialResultSet", next.get)
        prs.get("values").map(Json.asArr).getOrElse(Vector.empty)
          .foreach(v => out += String.valueOf(v))
        next = call.next()
      }
      out.result()
    }

    private def readTvf(stream: String, start: Long, end: Option[Long],
                        token: Option[String]): Vector[VectorMap[String, Any]] = {
      val sql = s"SELECT ChangeRecord FROM READ_$stream(@start_timestamp, " +
        "@end_timestamp, @partition_token, @heartbeat_milliseconds)"
      val params = Json.obj(
        "start_timestamp" -> start, "end_timestamp" -> end.map(e => e: Any).orNull,
        "partition_token" -> token.orNull, "heartbeat_milliseconds" -> 1000L)
      streamQuery(sql, params).map(j => Json.asObj(Json.parse(j)))
    }

    /** the initial NULL-token query: the partition tree's root tokens */
    def initialTokens(stream: String, start: Long = 0L): Vector[String] =
      readTvf(stream, start, None, None).flatMap { rec =>
        rec.get("child_partitions_record").map(Json.asArr).getOrElse(Vector.empty)
          .flatMap { cpr =>
            Json.asArr(Json.asObj(cpr)("child_partitions"))
              .map(cp => Json.str(Json.asObj(cp), "token"))
          }
      }

    /** drain one partition token's window of data changes */
    def readPartition(stream: String, token: String, start: Long = 0L,
                      end: Option[Long] = None): Vector[DataChange] =
      readTvf(stream, start, end, Some(token)).flatMap { rec =>
        rec.get("data_change_record").map(Json.asArr).getOrElse(Vector.empty).flatMap { d =>
          val dm = Json.asObj(d)
          Json.asArr(dm("mods")).map(Json.asObj).map { mod =>
            DataChange(
              dm("commit_timestamp") match { case l: Long => l; case d: Double => d.toLong; case x => x.toString.toLong },
              Json.str(dm, "table_name"), Json.str(dm, "mod_type"),
              Json.asObj(mod("keys")), Json.asObj(mod("new_values")))
          }
        }
      }

    override def close(): Unit = grpc.close()
  }
}
