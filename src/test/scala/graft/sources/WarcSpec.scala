package graft.sources

import graft.SparkSpec
import graft.sources.Warc.{WarcRecord, parseRecords}

/** Pins the WARC codec contract: length-declared record walking (not
  * magic scanning), response-only extraction, gzip-by-magic inflation
  * (single- and multi-member), and loud failure on every malformation
  * class the parser claims to reject. */
class WarcSpec extends SparkSpec {

  private def bytes(s: String) =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** Render one response record (the writer half of the round-trip). */
  private def renderRecord(recordId: String, targetUri: String,
      htmlBody: String): String = {
    val http = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
      htmlBody
    s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: $recordId\r\n" +
      s"WARC-Target-URI: $targetUri\r\nContent-Length: ${bytes(http).length}" +
      "\r\n\r\n" + http + "\r\n\r\n"
  }

  test("round-trip: render → parse returns every field") {
    val rec = renderRecord("<urn:uuid:doc-7>",
      "https://example.org/doc/7", "<html><body>hi there</body></html>")
    val out = parseRecords(bytes(rec))
    assert(out === Seq(WarcRecord("<urn:uuid:doc-7>",
      "https://example.org/doc/7", 70 + 8, 200,
      "<html><body>hi there</body></html>")))
  }

  test("a body containing the literal WARC/1.0 cannot desynchronize") {
    val evil = renderRecord("<a>", "https://e/1",
      "<html><body>WARC/1.0\r\nContent-Length: 0</body></html>")
    val tail = renderRecord("<b>", "https://e/2",
      "<html><body>x</body></html>")
    val out = parseRecords(bytes(evil + tail))
    assert(out.map(_.recordId) === Seq("<a>", "<b>"))
    assert(out.head.body.contains("WARC/1.0"))
  }

  test("non-response records are skipped, not mis-parsed") {
    val info = "WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 5\r\n" +
      "\r\nhello\r\n\r\n"
    val resp = renderRecord("<r>", "https://e/3",
      "<html><body>y</body></html>")
    assert(parseRecords(bytes(info + resp)).map(_.recordId) === Seq("<r>"))
  }

  test("whole-file gzip and concatenated per-record members both inflate") {
    def gz(b: Array[Byte]) = {
      val bo = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bo)
      g.write(b); g.close(); bo.toByteArray
    }
    val r1 = renderRecord("<g1>", "https://e/4", "<html><body>a</body></html>")
    val r2 = renderRecord("<g2>", "https://e/5", "<html><body>b</body></html>")
    assert(parseRecords(gz(bytes(r1 + r2))).map(_.recordId) ===
      Seq("<g1>", "<g2>"))
    // Common Crawl form: each record its own gzip member, concatenated.
    assert(parseRecords(gz(bytes(r1)) ++ gz(bytes(r2))).map(_.recordId) ===
      Seq("<g1>", "<g2>"))
  }

  test("malformed inputs fail loudly") {
    val good = renderRecord("<m>", "https://e/6", "<html><body>z</body></html>")
    // truncated payload
    intercept[IllegalArgumentException] {
      parseRecords(bytes(good).dropRight(10))
    }
    // bad version line
    intercept[IllegalArgumentException] {
      parseRecords(bytes("WARC/0.9\r\nContent-Length: 0\r\n\r\n"))
    }
    // missing Content-Length
    intercept[RuntimeException] {
      parseRecords(bytes("WARC/1.0\r\nWARC-Type: response\r\n\r\nx"))
    }
  }
}
