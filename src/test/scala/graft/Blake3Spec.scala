package graft

import org.apache.spark.sql.functions._

import graft.functions.{Blake3, DigestUtil}
import graft.functions.WarcDigest.warc_blake3

/** BLAKE3 goldens: reference test values (digest_test.go:115-128) + the
  * empty-payload digest (dialer.go:84-89) + official test-vector inputs
  * (the repeating 0..250 byte pattern from the BLAKE3 spec's vector suite)
  * exercising multi-block and multi-chunk tree paths. */
class Blake3Spec extends SparkSpec {

  private def hex(b: Array[Byte]) = DigestUtil.hex(b)

  test("blake3 of 'hello world' matches the reference golden (digest_test.go:116)") {
    assert("blake3:" + hex(Blake3.hash("hello world".getBytes)) ===
      "blake3:d74981efa70a0c880b8d8c1985d075dbcbf679b99a5f9914e5aaf96b831a9e24")
  }

  test("blake3 of empty payload matches the empty-digest list (dialer.go:84-89)") {
    assert("blake3:" + hex(Blake3.hash(Array.emptyByteArray)) ===
      "blake3:af1349b9f5f9a1a6a0404dea36dcc9499bcb25c9adc112b7cc9a93cae41f3262")
  }

  // official BLAKE3 test vectors (https://github.com/BLAKE3-team/BLAKE3
  // test_vectors.json, public): input byte i = i % 251
  private def vecInput(n: Int): Array[Byte] = Array.tabulate(n)(i => (i % 251).toByte)

  test("blake3 official vector: 1-byte input") {
    assert(hex(Blake3.hash(vecInput(1))) ===
      "2d3adedff11b61f14c886e35afa036736dcd87a74d27b5c1510225d0f592e213")
  }

  test("blake3 official vector: 1024 bytes (exactly one chunk)") {
    assert(hex(Blake3.hash(vecInput(1024))) ===
      "42214739f095a406f3fc83deb889744ac00df831c10daa55189b5d121c855af7")
  }

  test("blake3 official vector: 1025 bytes (two chunks, parent node)") {
    assert(hex(Blake3.hash(vecInput(1025))) ===
      "d00278ae47eb27b34faecf67b4fe263f82d5412916c1ffd97c8cb7fb814b8444")
  }

  test("blake3 official vector: 2048 bytes") {
    assert(hex(Blake3.hash(vecInput(2048))) ===
      "e776b6028c7cd22a4d0ba182a8bf62205d2ef576467e838ed6f2529b85fba24a")
  }

  test("blake3 official vector: 31744 bytes (multi-level tree)") {
    assert(hex(Blake3.hash(vecInput(31744))) ===
      "62b6960e1a44bcc1eb1a611a8d6235b6b4b78f32e7abc4fb4c6cdcce94895c47")
  }

  test("warc_blake3 column expression produces the prefixed format") {
    import spark.implicits._
    val big = "x" * 3000 // three chunks: the multi-chunk tree path
    val d = Seq(Some("hello world"), None, Some(big)).toDF("t")
      .select(warc_blake3(col("t"))).collect().map(r => Option(r.getString(0)))
    assert(d.toSeq === Seq(
      Some("blake3:d74981efa70a0c880b8d8c1985d075dbcbf679b99a5f9914e5aaf96b831a9e24"),
      None, // null in, null out
      Some("blake3:" + hex(Blake3.hash(big.getBytes("UTF-8"))))))
  }
}
