package graft

import graft.operators.{IndexPolicy, SigV4}

/** The S3 binding: its signing chain against the published AWS
  * Signature V4 example vector (the "Signature calculations" worked
  * example from the AWS general reference — public knowledge,
  * reproduced by every independent SigV4 implementation) and the
  * URI-encoding edge rules, then the store itself on the wire. The
  * wire cases run against [[S3Fake]], which recomputes every
  * request's signature; the lifecycle case runs against a real
  * S3-compatible store instead when GRAFT_S3_TEST_ENDPOINT is set.
  */
class SigV4Spec extends SparkSpec {
  import java.nio.charset.StandardCharsets.UTF_8

  test("AWS doc example vector: canonical request hash and final signature") {
    val cr = SigV4.canonicalRequest(
      method = "GET",
      canonicalUri = "/",
      query = Seq("Action" -> "ListUsers", "Version" -> "2010-05-08"),
      headers = Seq(
        "content-type" -> "application/x-www-form-urlencoded; charset=utf-8",
        "host" -> "iam.amazonaws.com",
        "x-amz-date" -> "20150830T123600Z"),
      payloadHash = SigV4.sha256Hex(Array.emptyByteArray))
    assert(SigV4.sha256Hex(cr.getBytes(UTF_8)) ==
      "f536975d06c0309214f805bb90ccff089219ecd68b2577efef23edd43b7e1a59",
      s"canonical request drifted:\n$cr")
    val sts = SigV4.stringToSign("20150830T123600Z",
      "20150830/us-east-1/iam/aws4_request",
      SigV4.sha256Hex(cr.getBytes(UTF_8)))
    assert(SigV4.signature("wJalrXUtnFEMI/K7MDENG+bPxRfiCYEXAMPLEKEY",
      "20150830", "us-east-1", "iam", sts) ==
      "5d672d79c15b13162d9279b0855cfba6789a8edb4c82c400e06b5924a6f2b5d7")
  }

  test("SigV4 uriEncode: unreserved set kept, space %20 never '+', slash mode, UTF-8 per byte") {
    assert(SigV4.uriEncode("AZaz09-._~", encodeSlash = true) == "AZaz09-._~")
    assert(SigV4.uriEncode("a b+c", encodeSlash = true) == "a%20b%2Bc")
    assert(SigV4.uriEncode("a/b", encodeSlash = true) == "a%2Fb")
    assert(SigV4.uriEncode("a/b", encodeSlash = false) == "a/b")
    assert(SigV4.uriEncode("=&?", encodeSlash = true) == "%3D%26%3F")
    // multibyte UTF-8 percent-encodes each byte (é = C3 A9)
    assert(SigV4.uriEncode("é", encodeSlash = true) == "%C3%A9")
  }

  test("S3 store lifecycle: pointer primitives and the publish protocol (a real store when GRAFT_S3_TEST_ENDPOINT is set)") {
    // point GRAFT_S3_TEST_ENDPOINT at any S3-compatible store with
    // conditional writes (MinIO, AWS S3) plus GRAFT_S3_TEST_BUCKET and
    // the standard AWS credential env vars, and the same lifecycle
    // runs against the real store instead of the loopback fake
    val store = sys.env.get("GRAFT_S3_TEST_ENDPOINT").fold(S3Fake.conf())(ep => Map(
      "spark.graft.index.s3.endpoint" -> ep,
      "spark.graft.index.s3.bucket" -> sys.env.getOrElse("GRAFT_S3_TEST_BUCKET", "graft-test")))
    val root = s"/graft-s3-spec/${java.util.UUID.randomUUID().toString.take(8)}"
    S3Fake.withS3Root(spark, root, store) {
      val st = IndexPolicy.S3PointerStore
      // create-exclusive awards once
      assert(st.putIfAbsent(spark, root, "wlock", "me 1"))
      assert(!st.putIfAbsent(spark, root, "wlock", "you 2"))
      assert(st.get(spark, root, "wlock").contains("me 1"))
      // conditional replace: succeeds on the exact value, refuses stale
      assert(st.putIfMatch(spark, root, "wlock", Some("me 1"), "me 2"))
      assert(!st.putIfMatch(spark, root, "wlock", Some("me 1"), "me 3"))
      assert(st.get(spark, root, "wlock").contains("me 2"))
      // conditional delete: refuses stale, removes exact
      assert(!st.deleteIfMatch(spark, root, "wlock", "me 1"))
      assert(st.deleteIfMatch(spark, root, "wlock", "me 2"))
      assert(st.get(spark, root, "wlock").isEmpty)
      // the protocol end-to-end: publish → read → compare-and-swing
      val m1 = IndexPolicy.publish(spark, root, Map("data" -> "e-0"))
      assert(IndexPolicy.readManifest(spark, root).contains(m1))
      val m2 = IndexPolicy.publish(spark, root, m1 + ("data" -> "e-1"))
      assert(IndexPolicy.versionOf(m2) ==
        IndexPolicy.versionOf(m1).map(_ + 1))
      intercept[java.util.ConcurrentModificationException] {
        IndexPolicy.publish(spark, root, m1 + ("data" -> "e-2"))
      }
      assert(IndexPolicy.readManifest(spark, root).contains(m2))
      // list + purge leave nothing behind
      assert(st.list(spark, root, "cur").contains("current"))
      st.purge(spark, root, "none")
      assert(st.list(spark, root, "").isEmpty)
    }
  }

  test("a rejected signature is a store error, never absent, held or a lost compare") {
    // the fake answers 403 to a request signed with the wrong secret
    // or by an unknown access key; every primitive must surface that
    // as an IOException (r18: an outage must never read as "held")
    val root = s"/graft-s3-auth/${java.util.UUID.randomUUID().toString.take(8)}"
    val st = IndexPolicy.S3PointerStore
    val good = S3Fake.conf()
    S3Fake.withS3Root(spark, root, good) {
      assert(st.putIfAbsent(spark, root, "wlock", "me 1"))
    }
    for (bad <- Seq("spark.graft.index.s3.secret" -> "not-the-secret",
                    "spark.graft.index.s3.access" -> "UNKNOWNACCESSKEY"))
      S3Fake.withS3Root(spark, root, good + bad) {
        intercept[java.io.IOException](st.get(spark, root, "wlock"))
        intercept[java.io.IOException](st.putIfAbsent(spark, root, "wlock", "you 2"))
        intercept[java.io.IOException](st.deleteIfMatch(spark, root, "wlock", "me 1"))
        intercept[java.io.IOException](st.putIfMatch(spark, root, "wlock", Some("me 1"), "you 2"))
      }
    S3Fake.withS3Root(spark, root, good) {
      assert(st.get(spark, root, "wlock").contains("me 1"),
        "a rejected request changed the store")
    }
  }

  test("S3 listing follows continuation tokens: snapshotIds sees every retained snapshot") {
    // the fake pages ListObjectsV2 at 2 keys, so 6 snapshots take 3
    // pages; a client that stopped at the first page would see 2
    val root = s"/graft-s3-list/${java.util.UUID.randomUUID().toString.take(8)}"
    spark.conf.set(IndexPolicy.SnapKeepConf, "10")
    try S3Fake.withS3Root(spark, root) {
      val ms = (0 until 6).scanLeft(Map("data" -> "e-0")) { (m, i) =>
        IndexPolicy.publish(spark, root, m + ("data" -> s"e-$i"))
      }.tail
      assert(IndexPolicy.snapshotIds(spark, root) == ms.flatMap(IndexPolicy.versionOf),
        "a listing past the first page lost snapshots")
    } finally spark.conf.unset(IndexPolicy.SnapKeepConf)
  }
}
