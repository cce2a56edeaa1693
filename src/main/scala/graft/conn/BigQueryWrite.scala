package graft.conn


import scala.collection.immutable.VectorMap
import scala.collection.mutable

import graft.conn.Aws.Json
import graft.functions.ProtoSchema

/** BigQuery Storage Write API output path (impl/gcp/
  * output_bigquery_storage.go:29-365 — the reference wraps
  * cloud.google.com/go/bigquery/storage/managedwriter) over the
  * from-scratch stack: the PUBLIC google.cloud.bigquery.storage.v1
  * protobuf subset (field numbering preserved; nested messages
  * flattened to top-level names — wire-identical), spoken as gRPC
  * (GetWriteStream unary, AppendRows BIDI-streaming) over the in-repo
  * HPACK + HTTP/2 layer.
  *
  * The managedwriter flow carried 1:1:
  *  - Connect discovers the table's `_default` write stream via
  *    GetWriteStream(view=FULL) and adapts its TableSchema to a row
  *    proto descriptor (adapt.StorageSchemaToProto2Descriptor) —
  *    here the descriptor is compiled by the in-repo proto compiler
  *    from generated schema text, one field per column in order;
  *  - each JSON message is protojson-unmarshalled against that
  *    descriptor and marshalled to proto bytes (the "json"
  *    message_format arm);
  *  - AppendRows streams ProtoRows batches (writer_schema on the
  *    FIRST request of the stream, as the API requires) and each
  *    request's AppendResult comes back on the response stream —
  *    DefaultStream semantics: appends commit immediately, offsets
  *    track the default stream.
  */
object BigQueryWrite {

  /** public google.cloud.bigquery.storage.v1 subset (+ google.rpc.Status
    * and the Int64Value wrapper), numbering from the published
    * storage.proto/stream.proto/table.proto/protobuf.proto */
  private val Schema = """
    syntax = "proto3";
    package google.cloud.bigquery.storage.v1;
    message Int64Value { int64 value = 1; }
    message Status { int32 code = 1; string message = 2; }
    message TableFieldSchema {
      string name = 1; int32 type = 2; int32 mode = 3; string description = 6;
    }
    message TableSchema { repeated TableFieldSchema fields = 1; }
    message GetWriteStreamRequest { string name = 1; int32 view = 3; }
    message WriteStream { string name = 1; int32 type = 2; TableSchema table_schema = 5; }
    message FieldDescriptorProto { string name = 1; int32 number = 3; int32 label = 4; int32 type = 5; }
    message DescriptorProto { string name = 1; repeated FieldDescriptorProto field = 2; }
    message ProtoSchemaMsg { DescriptorProto proto_descriptor = 1; }
    message ProtoRows { repeated bytes serialized_rows = 1; }
    message ProtoData { ProtoSchemaMsg writer_schema = 1; ProtoRows rows = 2; }
    message AppendRowsRequest {
      string write_stream = 1; Int64Value offset = 2; ProtoData proto_rows = 4;
      string trace_id = 6;
    }
    message RowError { int64 index = 1; int32 code = 2; string message = 3; }
    message AppendResult { Int64Value offset = 1; }
    message AppendRowsResponse {
      AppendResult append_result = 1; Status error = 2; repeated RowError row_errors = 4;
      string write_stream = 5;
    }
  """
  private lazy val reg = ProtoSchema.registryForText(Schema)
  private val Pkg = "google.cloud.bigquery.storage.v1"

  private def enc(fqn: String, json: VectorMap[String, Any]): Array[Byte] =
    ProtoSchema.fromJson(reg, s"$Pkg.$fqn", Json.render(json), discardUnknown = false)
  private def dec(fqn: String, bytes: Array[Byte]): VectorMap[String, Any] =
    Json.asObj(Json.parse(ProtoSchema.toJson(reg, s"$Pkg.$fqn", bytes)))

  private def b64(b: Array[Byte]): String = java.util.Base64.getEncoder.encodeToString(b)
  private def unb64(v: Any): Array[Byte] = v match {
    case s: String => java.util.Base64.getDecoder.decode(s)
    case _ => Array.emptyByteArray
  }
  private def num(m: VectorMap[String, Any], k: String, default: Long = 0): Long = m.get(k) match {
    case Some(l: Long) => l
    case Some(d: Double) => d.toLong
    case Some(s: String) => s.toLong
    case _ => default
  }

  /** TableFieldSchema.Type values used here (public table.proto). */
  object FieldType {
    val String = 1; val Int64 = 2; val Double = 3; val Bytes = 5; val Bool = 6
    val Timestamp = 7
  }

  final case class Field(name: String, tpe: Int, required: Boolean = false)

  /** The adapt.StorageSchemaToProto2Descriptor mapping: one proto field
    * per column, numbered by position, scalar kinds per BQ type. The
    * row message is compiled from text so both sides (client encode,
    * fixture decode) share one registry implementation. */
  def rowRegistry(fields: Seq[Field]): (ProtoSchema.Registry, String) = {
    val kinds = fields.zipWithIndex.map { case (f, i) =>
      val kind = f.tpe match {
        case FieldType.String => "string"
        case FieldType.Int64 | FieldType.Timestamp => "int64"
        case FieldType.Double => "double"
        case FieldType.Bytes => "bytes"
        case FieldType.Bool => "bool"
        case other => throw new IllegalArgumentException(s"unsupported BQ type $other")
      }
      s"  $kind ${f.name} = ${i + 1};"
    }
    val text = s"""syntax = "proto3";
      |package graftbq;
      |message Row {
      |${kinds.mkString("\n")}
      |}""".stripMargin
    (ProtoSchema.registryForText(text), "graftbq.Row")
  }

  /** protojson row → proto bytes (the WriteBatch "json" arm). */
  def encodeRow(rowReg: (ProtoSchema.Registry, String), json: String): Array[Byte] =
    ProtoSchema.fromJson(rowReg._1, rowReg._2, json, discardUnknown = false)

  /** proto bytes → row map keyed by the ORIGINAL column names, with
    * protojson's conventions normalized back to typed values: int64
    * renders as a JSON string, and proto3 zero values (0, "", false)
    * are omitted entirely — both restored here. */
  def decodeRow(rowReg: (ProtoSchema.Registry, String), fields: Seq[Field],
                bytes: Array[Byte]): VectorMap[String, Any] = {
    val m = Json.asObj(Json.parse(ProtoSchema.toJson(rowReg._1, rowReg._2, bytes)))
    VectorMap(fields.map { f =>
      val raw = m.get(ProtoSchema.lowerCamel(f.name)).orElse(m.get(f.name))
      val v: Any = (f.tpe, raw) match {
        case (FieldType.Int64 | FieldType.Timestamp, Some(s: String)) => s.toLong
        case (FieldType.Int64 | FieldType.Timestamp, Some(l: Long)) => l
        case (FieldType.Int64 | FieldType.Timestamp, None) => 0L
        case (FieldType.Double, Some(d: Double)) => d
        case (FieldType.Double, Some(l: Long)) => l.toDouble
        case (FieldType.Double, None) => 0.0
        case (FieldType.Bool, Some(b: Boolean)) => b
        case (FieldType.Bool, None) => false
        case (FieldType.String | FieldType.Bytes, Some(s: String)) => s
        case (FieldType.String | FieldType.Bytes, None) => ""
        case (_, Some(x)) => x
        case (_, None) => null
      }
      f.name -> v
    }: _*)
  }

  // ------------------------------------------------------------- fixture
  /** In-memory Storage Write endpoint for one or more tables: serves
    * GetWriteStream(_default, FULL) with the configured TableSchema and
    * applies AppendRows batches, validating the writer_schema field
    * list against the table schema (name + number + order). */
  final class MiniBqStorage(schemas: Map[String, Seq[Field]]) {
    private val stored = mutable.Map[String, mutable.ArrayBuffer[VectorMap[String, Any]]]()
    private val lock = new Object
    @volatile private var grpc: Grpc.GrpcServer = _
    def port: Int = grpc.port

    private def fieldsJson(fs: Seq[Field]): Vector[Any] =
      fs.toVector.map(f => Json.obj("name" -> f.name, "type" -> f.tpe.toLong,
        "mode" -> (if (f.required) 2L else 1L)): Any)

    def start(): this.type = {
      grpc = new Grpc.GrpcServer(Map(
        s"/$Pkg.BigQueryWrite/GetWriteStream" -> Grpc.Unary { reqBytes =>
          val req = dec("GetWriteStreamRequest", reqBytes)
          val name = req.getOrElse("name", "").asInstanceOf[String]
          val table = name.stripSuffix("/streams/_default")
          val fs = schemas.getOrElse(table,
            throw new IllegalArgumentException(s"unknown table $table"))
          enc("WriteStream", Json.obj("name" -> name, "type" -> 0L,
            "tableSchema" -> Json.obj("fields" -> fieldsJson(fs))))
        },
        s"/$Pkg.BigQueryWrite/AppendRows" -> Grpc.BidiStreaming { (reader, emit) =>
          var table: String = null
          var rowReg: (ProtoSchema.Registry, String) = null
          var fs: Seq[Field] = null
          var msg = reader.next()
          while (msg.isDefined) {
            val req = dec("AppendRowsRequest", msg.get)
            // write_stream + writer_schema arrive on the FIRST request
            // of the connection (the public AppendRows contract)
            if (table == null) {
              val ws = req.getOrElse("writeStream", "").asInstanceOf[String]
              table = ws.stripSuffix("/streams/_default")
              fs = schemas.getOrElse(table,
                throw new IllegalArgumentException(s"unknown table $table"))
              val writerFields = req.get("protoRows").map(Json.asObj)
                .flatMap(_.get("writerSchema")).map(Json.asObj)
                .flatMap(_.get("protoDescriptor")).map(Json.asObj)
                .flatMap(_.get("field")).map(Json.asArr).getOrElse(Vector.empty)
              require(writerFields.size == fs.size,
                s"writer_schema has ${writerFields.size} fields, table has ${fs.size}")
              writerFields.zip(fs).zipWithIndex.foreach { case ((wf, f), i) =>
                val w = Json.asObj(wf)
                require(w.getOrElse("name", "") == f.name && num(w, "number") == i + 1,
                  s"writer_schema field $i mismatches table column ${f.name}")
              }
              rowReg = rowRegistry(fs)
            }
            val rows = req.get("protoRows").map(Json.asObj)
              .flatMap(_.get("rows")).map(Json.asObj)
              .flatMap(_.get("serializedRows")).map(Json.asArr).getOrElse(Vector.empty)
            val offset = lock.synchronized {
              val buf = stored.getOrElseUpdate(table, mutable.ArrayBuffer.empty)
              val off = buf.size.toLong
              rows.foreach(r => buf += decodeRow(rowReg, fs, unb64(r)))
              off
            }
            emit(enc("AppendRowsResponse", Json.obj(
              "appendResult" -> Json.obj("offset" -> Json.obj("value" -> offset)),
              "writeStream" -> s"$table/streams/_default")))
            msg = reader.next()
          }
        })).start()
      this
    }

    /** Gate read-back (DefaultStream commits immediately). */
    def rows(table: String): Seq[VectorMap[String, Any]] =
      lock.synchronized(stored.get(table).map(_.toVector).getOrElse(Vector.empty))

    def stop(): Unit = if (grpc != null) grpc.stop()
  }

  // -------------------------------------------------------------- client
  /** managedwriter-shaped client: getWriteStream discovers the schema,
    * appendJsonRows streams batches over ONE AppendRows call and awaits
    * each batch's AppendResult (result.GetResult in the reference). */
  final class Client(host: String, port: Int) extends AutoCloseable {
    private val grpc = new Grpc.Client(host, port)

    def tableParent(project: String, dataset: String, table: String): String =
      s"projects/$project/datasets/$dataset/tables/$table"

    /** GetWriteStream(view=FULL) → the table's column schema. */
    def getWriteStream(tableParent: String): Seq[Field] = {
      val resp = dec("WriteStream", grpc.unary(s"/$Pkg.BigQueryWrite/GetWriteStream",
        enc("GetWriteStreamRequest",
          Json.obj("name" -> s"$tableParent/streams/_default", "view" -> 2L))))
      resp.get("tableSchema").map(Json.asObj).flatMap(_.get("fields")).map(Json.asArr)
        .getOrElse(Vector.empty).map { fx =>
          val f = Json.asObj(fx)
          Field(f.getOrElse("name", "").asInstanceOf[String],
            num(f, "type").toInt, num(f, "mode") == 2L)
        }
    }

    /** Append JSON rows in batches over one bidi AppendRows stream;
      * writer_schema rides the first request only. Returns the
      * AppendResult offset of each batch. */
    def appendJsonRows(tableParent: String, fields: Seq[Field],
                       jsonRows: Iterator[String], batchRows: Int = 500): Seq[Long] = {
      val rowReg = rowRegistry(fields)
      val writerSchema = Json.obj("protoDescriptor" -> Json.obj(
        "name" -> "root",
        "field" -> fields.zipWithIndex.toVector.map { case (f, i) =>
          Json.obj("name" -> f.name, "number" -> (i + 1).toLong,
            "label" -> 1L /* OPTIONAL */,
            "type" -> (f.tpe match {
              case FieldType.String => 9L /* TYPE_STRING */
              case FieldType.Int64 | FieldType.Timestamp => 3L /* TYPE_INT64 */
              case FieldType.Double => 1L /* TYPE_DOUBLE */
              case FieldType.Bytes => 12L /* TYPE_BYTES */
              case FieldType.Bool => 8L /* TYPE_BOOL */
            })): Any
        }))
      val call = grpc.bidiStream(s"/$Pkg.BigQueryWrite/AppendRows")
      val offsets = Vector.newBuilder[Long]
      var first = true
      var inFlight = 0
      try {
        jsonRows.grouped(batchRows).foreach { batch =>
          val protoRows = Json.obj("serializedRows" ->
            batch.toVector.map(j => b64(encodeRow(rowReg, j)): Any))
          var req = Json.obj(
            "protoRows" -> (if (first) Json.obj("writerSchema" -> writerSchema, "rows" -> protoRows)
                            else Json.obj("rows" -> protoRows)))
          if (first) req = Json.obj("writeStream" -> s"$tableParent/streams/_default") ++ req
          first = false
          call.send(enc("AppendRowsRequest", req))
          inFlight += 1
          // await each result as we go (the managedwriter pattern keeps a
          // bounded number of appends in flight; 1 here — simplest correct)
          val resp = dec("AppendRowsResponse", call.next().getOrElse(
            throw new IllegalArgumentException("AppendRows stream closed early")))
          resp.get("error").map(Json.asObj).foreach { st =>
            throw Grpc.GrpcError(num(st, "code").toInt,
              st.getOrElse("message", "").asInstanceOf[String])
          }
          offsets += resp.get("appendResult").map(Json.asObj)
            .flatMap(_.get("offset")).map(Json.asObj).map(num(_, "value")).getOrElse(-1L)
          inFlight -= 1
        }
      } finally call.closeSend()
      require(call.next().isEmpty, "unexpected trailing AppendRows response")
      offsets.result()
    }

    override def close(): Unit = grpc.close()
  }
}
