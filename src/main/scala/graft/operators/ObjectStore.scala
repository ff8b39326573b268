package graft.operators

/** Minimal AWS Signature V4 signer + path-style S3 REST client — the
  * store binding behind [[IndexPolicy]]'s conf-gated S3PointerStore,
  * for any S3-compatible endpoint with conditional writes (AWS S3,
  * MinIO, GCS in interop mode).
  *
  * Original implementation of the PUBLIC algorithm ("Signature
  * Version 4 signing process", AWS general reference; reference repo
  * has no object-store layer — this serves the engine's own 100-TB
  * index estate). Spec-pinned against the published example vector
  * (SigV4Spec), and driven on the wire by the specs' loopback
  * S3-compatible fake, which recomputes every request's signature
  * from what it received. java.net.http only — no SDK (build rule:
  * no new dependencies).
  */
private[graft] object SigV4 {
  import java.nio.charset.StandardCharsets.UTF_8

  def sha256Hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map("%02x".format(_)).mkString

  private def hmac(key: Array[Byte], data: String): Array[Byte] = {
    val m = javax.crypto.Mac.getInstance("HmacSHA256")
    m.init(new javax.crypto.spec.SecretKeySpec(key, "HmacSHA256"))
    m.doFinal(data.getBytes(UTF_8))
  }

  /** The SigV4 URI encoder — RFC 3986 unreserved set only
    * (`A-Za-z0-9-._~`), space as %20 (never '+'), multibyte UTF-8
    * percent-encoded per byte; `encodeSlash=false` preserves path
    * separators (the object-key rule).
    */
  def uriEncode(s: String, encodeSlash: Boolean): String =
    s.getBytes(UTF_8).flatMap { b =>
      val c = b.toChar
      if (c.isLetterOrDigit && c < 128 || "-._~".contains(c) ||
        (c == '/' && !encodeSlash)) c.toString
      else f"%%${b & 0xff}%02X"
    }.mkString

  /** Canonical request: method, encoded URI, sorted encoded query,
    * lowercased sorted headers (each line \n-terminated, so the blank
    * separator line falls out of the join), signed-header list,
    * payload hash.
    */
  def canonicalRequest(method: String, canonicalUri: String,
                       query: Seq[(String, String)],
                       headers: Seq[(String, String)],
                       payloadHash: String): String = {
    val cq = query.map { case (k, v) =>
      (uriEncode(k, encodeSlash = true), uriEncode(v, encodeSlash = true))
    }.sorted.map { case (k, v) => s"$k=$v" }.mkString("&")
    val hs = headers.map { case (k, v) => (k.toLowerCase, v.trim) }
      .sortBy(_._1)
    val ch = hs.map { case (k, v) => s"$k:$v\n" }.mkString
    val sh = hs.map(_._1).mkString(";")
    Seq(method, canonicalUri, cq, ch, sh, payloadHash).mkString("\n")
  }

  def stringToSign(amzDate: String, scope: String,
                   canonicalRequestHash: String): String =
    Seq("AWS4-HMAC-SHA256", amzDate, scope, canonicalRequestHash)
      .mkString("\n")

  /** The HMAC key-derivation chain:
    * AWS4+secret → date → region → service → aws4_request → signature.
    */
  def signature(secret: String, dateStamp: String, region: String,
                service: String, stringToSign: String): String = {
    val k = hmac(hmac(hmac(hmac(s"AWS4$secret".getBytes(UTF_8),
      dateStamp), region), service), "aws4_request")
    hmac(k, stringToSign).map("%02x".format(_)).mkString
  }
}

/** One bucket's signed HTTP surface (path-style addressing — the form
  * every S3-compatible store accepts). Small pointer objects only
  * (manifests, leases, snapshots — the data epochs stay parquet on
  * the data path), so bodies ride in memory and there is no multipart
  * anything.
  */
private[graft] final class S3Http(endpoint: String, val bucket: String,
                                  region: String, access: String,
                                  secret: String) {
  import java.nio.charset.StandardCharsets.UTF_8

  private val base = java.net.URI.create(endpoint)
  private val hostHeader = base.getHost +
    (if (base.getPort > 0) s":${base.getPort}" else "")
  private val http = java.net.http.HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(10)).build()

  /** One signed request against `/<bucket>/<key>` (bare `/<bucket>`
    * when `key` is empty — the list form). Returns (status, body,
    * ETag). Conditional headers (`If-Match`, `If-None-Match`) ride in
    * `extra` and are signed with everything else.
    */
  def request(method: String, key: String,
              query: Seq[(String, String)] = Nil,
              body: Array[Byte] = Array.emptyByteArray,
              extra: Seq[(String, String)] = Nil)
      : (Int, Array[Byte], Option[String]) = {
    val amzDate = java.time.format.DateTimeFormatter
      .ofPattern("yyyyMMdd'T'HHmmss'Z'")
      .format(java.time.ZonedDateTime.now(java.time.ZoneOffset.UTC))
    val dateStamp = amzDate.take(8)
    val payloadHash = SigV4.sha256Hex(body)
    val canonicalUri =
      if (key.isEmpty) s"/${SigV4.uriEncode(bucket, encodeSlash = true)}"
      else "/" + SigV4.uriEncode(s"$bucket/$key", encodeSlash = false)
    val headers = Seq("host" -> hostHeader,
      "x-amz-content-sha256" -> payloadHash,
      "x-amz-date" -> amzDate) ++
      extra.map { case (k, v) => (k.toLowerCase, v) }
    val scope = s"$dateStamp/$region/s3/aws4_request"
    val sig = SigV4.signature(secret, dateStamp, region, "s3",
      SigV4.stringToSign(amzDate, scope, SigV4.sha256Hex(
        SigV4.canonicalRequest(method, canonicalUri, query, headers,
          payloadHash).getBytes(UTF_8))))
    val auth = s"AWS4-HMAC-SHA256 Credential=$access/$scope, " +
      s"SignedHeaders=${headers.map(_._1.toLowerCase).sorted.mkString(";")}, " +
      s"Signature=$sig"
    val qs =
      if (query.isEmpty) ""
      else "?" + query.map { case (k, v) =>
        s"${SigV4.uriEncode(k, true)}=${SigV4.uriEncode(v, true)}"
      }.mkString("&")
    var rb = java.net.http.HttpRequest
      .newBuilder(java.net.URI.create(s"$endpoint$canonicalUri$qs"))
      .method(method,
        if (body.isEmpty)
          java.net.http.HttpRequest.BodyPublishers.noBody()
        else java.net.http.HttpRequest.BodyPublishers.ofByteArray(body))
      .timeout(java.time.Duration.ofSeconds(30))
      .header("x-amz-content-sha256", payloadHash)
      .header("x-amz-date", amzDate)
      .header("Authorization", auth)
    extra.foreach { case (k, v) => rb = rb.header(k, v) }
    val resp = http.send(rb.build(),
      java.net.http.HttpResponse.BodyHandlers.ofByteArray())
    (resp.statusCode(), resp.body(),
      Option(resp.headers().firstValue("ETag").orElse(null)))
  }

  /** All keys under `prefix` — ListObjectsV2 with continuation
    * pagination, keys parsed from the XML (flat `<Key>` elements; the
    * pointer surface never stores XML-meaningful characters in names).
    */
  def listKeys(prefix: String): Seq[String] = {
    val keyPat = "<Key>([^<]*)</Key>".r
    val tokPat = "<NextContinuationToken>([^<]*)</NextContinuationToken>".r
    val out = Seq.newBuilder[String]
    var token: Option[String] = None
    var more = true
    while (more) {
      val q = Seq("list-type" -> "2", "prefix" -> prefix) ++
        token.map("continuation-token" -> _)
      val (st, body, _) = request("GET", "", q)
      if (st != 200)
        throw new java.io.IOException(
          s"S3 list $bucket/$prefix failed: HTTP $st " +
            new String(body, UTF_8).take(200))
      val xml = new String(body, UTF_8)
      out ++= keyPat.findAllMatchIn(xml).map(_.group(1))
      token = tokPat.findFirstMatchIn(xml).map(_.group(1))
      more = token.isDefined
    }
    out.result()
  }
}
