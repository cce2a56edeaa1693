package graft.conn

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.concurrent.{TrieMap => CTrieMap}

import graft.conn.Aws.{Http, Json}

/** snowflake_put (internal/impl/snowflake/output_snowflake_put.go — the
  * reference wraps gosnowflake + the Snowpipe REST API) over the PUBLIC
  * pieces of that flow:
  *
  *  - key-pair JWT auth exactly as the Snowflake SQL-API docs describe:
  *    an RS256 JWT with `iss = ACCOUNT.USER.SHA256:<b64(sha256(pubkey
  *    DER))>`, `sub = ACCOUNT.USER`, bounded exp — the fixture verifies
  *    the signature with the REGISTERED public key, recomputes the
  *    fingerprint, and 401s mismatches;
  *  - an EXTERNAL STAGE backed by object storage — the real product's
  *    external stages are S3/GCS/Azure buckets, and here the stage IS
  *    the in-repo MiniS3: staged files are ordinary S3 objects written
  *    with SigV4 clients;
  *  - the documented Snowpipe REST endpoints: `POST /v1/data/pipes/
  *    {pipe}/insertFiles` (the fixture pulls each file from the stage
  *    and loads its lines into the pipe's table) and `GET …/
  *    insertReport` (per-file LOADED status + rowsInserted — the
  *    load-confirmation path the reference documents for verifying
  *    ingestion).
  */
object Snowpipe {

  /** the documented public-key fingerprint form */
  def fingerprint(publicKeyPem: String): String = {
    val der = java.util.Base64.getMimeDecoder.decode(
      publicKeyPem.replaceAll("-----(BEGIN|END) PUBLIC KEY-----", "").trim)
    "SHA256:" + java.util.Base64.getEncoder.encodeToString(
      java.security.MessageDigest.getInstance("SHA-256").digest(der))
  }

  /** the key-pair JWT for one request window */
  def jwt(account: String, user: String, privateKeyPem: String, publicKeyPem: String): String = {
    val iat = System.currentTimeMillis() / 1000
    val claims = Json.render(Json.obj(
      "iss" -> s"$account.$user.${fingerprint(publicKeyPem)}",
      "sub" -> s"$account.$user", "iat" -> iat, "exp" -> (iat + 3500)))
    graft.functions.Crypto.signJwtPk("RS256")(claims, privateKeyPem)
  }

  final case class FileReport(path: String, status: String, rowsInserted: Long)

  // ------------------------------------------------------------- fixture
  /** the snowpipe service half: verifies the key-pair JWT, pulls staged
    * files from the backing S3 stage, loads lines into per-pipe tables */
  final class MiniSnowpipe(account: String, user: String, publicKeyPem: String,
                           stageEndpoint: String, stageBucket: String) {
    private val files = new CTrieMap[(String, String), FileReport]() // (pipe, path)
    private val tables = new CTrieMap[String, scala.collection.mutable.ArrayBuffer[String]]()
    @volatile private var server: com.sun.net.httpserver.HttpServer = _

    def port: Int = server.getAddress.getPort
    def endpoint: String = s"http://127.0.0.1:$port"
    def loadedRows(pipe: String): Int =
      tables.get(pipe).map(t => t.synchronized(t.size)).getOrElse(0)

    private def authorized(headers: Map[String, String]): Boolean =
      headers.get("authorization").filter(_.startsWith("Bearer ")).map(_.stripPrefix("Bearer "))
        .exists { tok =>
          val claimsJson = graft.functions.Crypto.parseJwtPk("RS256")(tok, publicKeyPem)
          claimsJson != null && {
            val c = Json.asObj(Json.parse(claimsJson))
            Json.strOpt(c, "iss").contains(s"$account.$user.${fingerprint(publicKeyPem)}") &&
              Json.strOpt(c, "sub").contains(s"$account.$user") &&
              Json.long(c, "exp") > System.currentTimeMillis() / 1000
          }
        }

    private val insertFilesRe = "/v1/data/pipes/([^/]+)/insertFiles".r
    private val insertReportRe = "/v1/data/pipes/([^/]+)/insertReport".r

    private def loadFile(pipe: String, path: String): FileReport = {
      // pull from the EXTERNAL STAGE (MiniS3) like the real service
      val s3 = new S3.Client(stageEndpoint)
      try s3.get(stageBucket, path) match {
        case None => FileReport(path, "LOAD_FAILED", 0L)
        case Some(obj) =>
          val lines = new String(obj.bytes, UTF_8).split('\n').filter(_.nonEmpty)
          val t = tables.getOrElseUpdate(pipe, new scala.collection.mutable.ArrayBuffer[String]())
          t.synchronized { t ++= lines }
          FileReport(path, "LOADED", lines.length.toLong)
      } finally s3.close()
    }

    private def handle(method: String, path: String, headers: Map[String, String],
                       body: Array[Byte]): (Int, Array[Byte]) = {
      def json(status: Int, v: Any) = (status, Json.render(v).getBytes(UTF_8))
      if (!authorized(headers))
        return json(401, Json.obj("code" -> "390144", "message" -> "JWT token is invalid"))
      (method, path) match {
        case ("POST", insertFilesRe(pipe)) =>
          val req = Json.asObj(Json.parse(new String(body, UTF_8)))
          Json.asArr(req("files")).map(Json.asObj).foreach { f =>
            val p = Json.str(f, "path")
            // idempotent per (pipe, path) — re-submits do not double-load
            if (!files.contains((pipe, p))) files.put((pipe, p), loadFile(pipe, p))
          }
          json(200, Json.obj("responseCode" -> "SUCCESS"))
        case ("GET", insertReportRe(pipe)) =>
          val fs = files.toSeq.collect { case ((`pipe`, _), r) => r }.sortBy(_.path)
          json(200, Json.obj("pipe" -> pipe, "completeResult" -> true,
            "files" -> fs.toVector.map(r => Json.obj("path" -> r.path,
              "status" -> r.status, "rowsInserted" -> r.rowsInserted): Any)))
        case _ => json(400, Json.obj("message" -> s"unhandled $method $path"))
      }
    }

    def start(): this.type = {
      graft.conn.Aws.serverNoDelay()
      server = com.sun.net.httpserver.HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
      server.createContext("/", (x: com.sun.net.httpserver.HttpExchange) => {
        val body = x.getRequestBody.readAllBytes()
        val hdrs = {
          import scala.jdk.CollectionConverters._
          x.getRequestHeaders.asScala.map { case (k, vs) => k.toLowerCase -> vs.asScala.mkString(",") }.toMap
        }
        val (status, resp) = try handle(x.getRequestMethod, x.getRequestURI.getPath, hdrs, body)
        catch { case e: Throwable =>
          (500, Json.render(Json.obj("message" -> String.valueOf(e.getMessage))).getBytes(UTF_8)) }
        x.getResponseHeaders.add("Content-Type", "application/json")
        x.sendResponseHeaders(status, if (resp.isEmpty) -1 else resp.length.toLong)
        if (resp.nonEmpty) x.getResponseBody.write(resp)
        x.close()
      })
      server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(16,
        (r: Runnable) => { val t = new Thread(r); t.setDaemon(true); t }))
      server.start()
      this
    }
    def stop(): Unit = if (server != null) server.stop(0)
  }

  // -------------------------------------------------------------- client
  final class Client(endpoint: String, account: String, user: String,
                     privateKeyPem: String, publicKeyPem: String) extends AutoCloseable {
    private val http = new Http
    private def auth = "authorization" -> s"Bearer ${jwt(account, user, privateKeyPem, publicKeyPem)}"

    def insertFiles(pipe: String, paths: Seq[String]): Unit = {
      val body = Json.render(Json.obj("files" ->
        paths.toVector.map(p => Json.obj("path" -> p): Any))).getBytes(UTF_8)
      val r = http.request("POST", s"$endpoint/v1/data/pipes/$pipe/insertFiles",
        Seq("content-type" -> "application/json", auth), body)
      require(r.status == 200, s"insertFiles: ${r.status} ${r.bodyStr}")
    }

    def insertReport(pipe: String): Vector[FileReport] = {
      val r = http.request("GET", s"$endpoint/v1/data/pipes/$pipe/insertReport",
        Seq(auth), Array.emptyByteArray)
      require(r.status == 200, s"insertReport: ${r.status} ${r.bodyStr}")
      Json.asArr(Json.asObj(Json.parse(r.bodyStr))("files")).map { f =>
        val fm = Json.asObj(f)
        FileReport(Json.str(fm, "path"), Json.str(fm, "status"), Json.long(fm, "rowsInserted"))
      }
    }

    override def close(): Unit = http.close()
  }
}
