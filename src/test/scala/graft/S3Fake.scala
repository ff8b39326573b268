package graft

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.operators.{IndexPolicy, SigV4}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.SparkSession

/** Loopback S3-compatible store for the specs: path-style GET, PUT,
  * DELETE and ListObjectsV2 over the JDK's HTTP server, so the real
  * [[IndexPolicy.S3PointerStore]] and its SigV4 client run on the wire
  * with no network.
  *
  *  - Every request's signature is recomputed from what arrived (raw
  *    path, query, the signed headers, the body's own hash) with
  *    [[SigV4]] and a fixed key pair; a mismatch or an unknown access
  *    key answers 403.
  *  - ETags are the body's MD5. `If-None-Match: *` and `If-Match` on
  *    PUT and `If-Match` on DELETE are evaluated together with the
  *    write under one lock and answer 412 on a mismatch; `If-Match` on
  *    a missing key answers 404, as S3 does.
  *  - LIST pages at [[PageSize]] keys with `NextContinuationToken`, so
  *    the client's continuation loop runs on any listing past 2 keys.
  *
  * Started once per JVM on an ephemeral port; buckets spring into
  * existence on first use, so a fresh bucket name isolates one test.
  */
object S3Fake {
  val Access = "GRAFTFAKEACCESSKEY"
  val Secret = "graft/fake/secret/key"
  val PageSize = 2

  /** bucket/key → (body, ETag); guarded by its own monitor. */
  private val objects = new java.util.TreeMap[String, (Array[Byte], String)]()

  lazy val endpoint: String = {
    val server = HttpServer.create(
      new java.net.InetSocketAddress(java.net.InetAddress.getLoopbackAddress, 0), 0)
    server.createContext("/", (ex: HttpExchange) =>
      try serve(ex)
      catch { case e: Throwable => reply(ex, 500, e.toString.getBytes(UTF_8)) }
      finally ex.close())
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4, r => {
      val t = new Thread(r, "s3-fake"); t.setDaemon(true); t
    }))
    server.start()
    s"http://127.0.0.1:${server.getAddress.getPort}"
  }

  /** The store conf of a fresh bucket on the fake. */
  def conf(): Map[String, String] = Map(
    "spark.graft.index.s3.endpoint" -> endpoint,
    "spark.graft.index.s3.bucket" -> s"b-${java.util.UUID.randomUUID().toString.take(8)}",
    "spark.graft.index.s3.access" -> Access,
    "spark.graft.index.s3.secret" -> Secret)

  /** Route the pointer objects of every index under `root` through the
    * S3 store described by `store` (default: a fresh bucket on the fake)
    * while `body` runs.
    */
  def withS3Root[T](spark: SparkSession, root: String,
                    store: Map[String, String] = conf())(body: => T): T = {
    val all = store + (IndexPolicy.S3RootsConf -> root)
    all.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally all.keys.foreach(spark.conf.unset)
  }

  private def reply(ex: HttpExchange, status: Int, body: Array[Byte] = Array.emptyByteArray,
                    etag: Option[String] = None): Unit = {
    etag.foreach(ex.getResponseHeaders.set("ETag", _))
    ex.sendResponseHeaders(status, if (body.isEmpty) -1 else body.length.toLong)
    if (body.nonEmpty) ex.getResponseBody.write(body)
  }

  private def decode(s: String) = java.net.URLDecoder.decode(s.replace("+", "%2B"), UTF_8)

  /** Whether the request carries a valid signature by the fake's key. */
  private def signed(ex: HttpExchange, rawPath: String, query: Seq[(String, String)],
                     body: Array[Byte]): Boolean = {
    val auth = Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")
    val fields = auth.stripPrefix("AWS4-HMAC-SHA256 ").split(",\\s*")
      .flatMap(_.split("=", 2) match { case Array(k, v) => Some(k -> v); case _ => None }).toMap
    (fields.get("Credential"), fields.get("SignedHeaders"), fields.get("Signature")) match {
      case (Some(cred), Some(names), Some(sig)) =>
        cred.split("/") match {
          case Array(Access, date, region, service, "aws4_request") =>
            val headers = names.split(";").toSeq.map(n =>
              n -> Option(ex.getRequestHeaders.getFirst(n)).getOrElse(""))
            val cr = SigV4.canonicalRequest(ex.getRequestMethod, rawPath, query, headers,
              SigV4.sha256Hex(body))
            val amzDate = Option(ex.getRequestHeaders.getFirst("x-amz-date")).getOrElse("")
            sig == SigV4.signature(Secret, date, region, service, SigV4.stringToSign(amzDate,
              s"$date/$region/$service/aws4_request", SigV4.sha256Hex(cr.getBytes(UTF_8))))
          case _ => false
        }
      case _ => false
    }
  }

  private def serve(ex: HttpExchange): Unit = {
    val rawPath = ex.getRequestURI.getRawPath
    val query = Option(ex.getRequestURI.getRawQuery).toSeq.flatMap(_.split("&"))
      .map(_.split("=", 2)).map(kv => decode(kv(0)) -> decode(kv.lift(1).getOrElse("")))
    val body = ex.getRequestBody.readAllBytes()
    if (!signed(ex, rawPath, query, body)) return reply(ex, 403, "SignatureDoesNotMatch".getBytes(UTF_8))
    val (bucket, key) = decode(rawPath.stripPrefix("/")).split("/", 2) match {
      case Array(b, k) => (b, k)
      case Array(b) => (b, "")
    }
    val ifMatch = Option(ex.getRequestHeaders.getFirst("If-Match"))
    val ifNoneMatch = Option(ex.getRequestHeaders.getFirst("If-None-Match"))
    val id = s"$bucket/$key"
    (ex.getRequestMethod, key.isEmpty) match {
      case ("GET", true) => list(ex, bucket, query.toMap)
      case ("GET", false) =>
        objects.synchronized(Option(objects.get(id))) match {
          case Some((b, tag)) => reply(ex, 200, b, Some(tag))
          case None => reply(ex, 404)
        }
      case ("PUT", false) =>
        val tag = "\"" + java.security.MessageDigest.getInstance("MD5").digest(body)
          .map("%02x".format(_)).mkString + "\""
        val st = objects.synchronized {
          val cur = Option(objects.get(id)).map(_._2)
          if (ifNoneMatch.contains("*") && cur.isDefined) 412
          else if (ifMatch.isDefined && cur.isEmpty) 404
          else if (ifMatch.exists(m => !cur.contains(m))) 412
          else { objects.put(id, (body, tag)); 200 }
        }
        reply(ex, st, etag = Some(tag).filter(_ => st == 200))
      case ("DELETE", false) =>
        val st = objects.synchronized {
          val cur = Option(objects.get(id)).map(_._2)
          if (ifMatch.isDefined && cur.isEmpty) 404
          else if (ifMatch.exists(m => !cur.contains(m))) 412
          else { objects.remove(id); 204 }
        }
        reply(ex, st)
      case _ => reply(ex, 405)
    }
  }

  /** ListObjectsV2: keys under `prefix` in order, [[PageSize]] per page;
    * the continuation token is the last key of the previous page.
    */
  private def list(ex: HttpExchange, bucket: String, q: Map[String, String]): Unit = {
    val lead = s"$bucket/${q.getOrElse("prefix", "")}"
    val from = q.get("continuation-token").fold(lead)(t => s"$bucket/$t\u0000")
    val keys = objects.synchronized {
      import scala.jdk.CollectionConverters._
      objects.tailMap(from, true).keySet.asScala.iterator
        .takeWhile(_.startsWith(lead)).take(PageSize + 1).toList
    }.map(_.drop(bucket.length + 1))
    val page = keys.take(PageSize)
    val next = if (keys.size > PageSize) page.lastOption else None
    val xml = "<ListBucketResult>" + s"<Name>$bucket</Name><KeyCount>${page.size}</KeyCount>" +
      s"<IsTruncated>${next.isDefined}</IsTruncated>" +
      page.map(k => s"<Contents><Key>$k</Key></Contents>").mkString +
      next.fold("")(t => s"<NextContinuationToken>$t</NextContinuationToken>") +
      "</ListBucketResult>"
    reply(ex, 200, xml.getBytes(UTF_8))
  }
}
