package graft.sources

/** WARC (Web ARChive, ISO 28500) record codec — the container Common
  * Crawl ships, i.e. THE wire format of LLM pretraining corpora. A
  * WARC file is a concatenation of records, each:
  *
  *   WARC/1.0\r\n
  *   <Name>: <value>\r\n ...          (header block)
  *   \r\n
  *   <Content-Length bytes of payload>
  *   \r\n\r\n                          (record separator)
  *
  * For `WARC-Type: response` records the payload is itself an HTTP
  * response (status line, headers, \r\n\r\n, body). This parser walks
  * records by the DECLARED Content-Length — never by scanning for the
  * next magic, which a body containing the literal string "WARC/1.0"
  * would defeat — and fails LOUDLY on malformation (missing length,
  * truncated payload, bad version line), per the repo's codec
  * discipline: a silent partial parse of a crawl shard is corrupted
  * training data.
  *
  * Gzip: a leading 1f 8b member is inflated first.
  * `java.util.zip.GZIPInputStream` handles multi-member streams, so
  * both whole-file gzip and the per-record-member form Common Crawl
  * uses (each record its own gzip member, concatenated) inflate to the
  * same record stream.
  *
  * Scale shape: parsing is per-file map work over a `binaryFile` scan
  * — no shuffle, no driver involvement; at cluster scale the same
  * `parseRecords` body runs inside a record-splitting input format
  * instead (WARC's separator structure makes shards self-synchronizing
  * at gzip-member boundaries).
  */
object Warc {

  /** One parsed response record. */
  final case class WarcRecord(
      recordId: String, targetUri: String, contentLength: Long,
      httpStatus: Int, body: String)

  private val Ascii = java.nio.charset.StandardCharsets.US_ASCII
  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8

  def isGzip(bytes: Array[Byte]): Boolean =
    bytes.length >= 2 && (bytes(0) & 0xff) == 0x1f &&
      (bytes(1) & 0xff) == 0x8b

  def gunzip(bytes: Array[Byte]): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try in.readAllBytes() finally in.close()
  }

  /** All response records of one (possibly gzipped) WARC file. */
  def parseRecords(raw: Array[Byte]): Seq[WarcRecord] = {
    val bytes = if (isGzip(raw)) gunzip(raw) else raw
    val out = scala.collection.mutable.ArrayBuffer.empty[WarcRecord]
    var p = 0
    // Tolerate line-feed padding between records (a text-sink artifact
    // and common in hand-built files) — never inside one.
    while (p < bytes.length &&
        (bytes(p) == '\n'.toByte || bytes(p) == '\r'.toByte)) p += 1
    while (p < bytes.length) {
      val headerEnd = indexOf(bytes, p, "\r\n\r\n")
      require(headerEnd >= 0, s"corrupt WARC: no header terminator at $p")
      val header = new String(bytes, p, headerEnd - p, Ascii)
      val lines = header.split("\r\n", -1)
      require(lines.head == "WARC/1.0",
        s"corrupt WARC: bad version line '${lines.head.take(40)}'")
      val hs = lines.tail.map { l =>
        val i = l.indexOf(':')
        require(i > 0, s"corrupt WARC: bad header line '${l.take(40)}'")
        (l.substring(0, i).trim.toLowerCase, l.substring(i + 1).trim)
      }.toMap
      val len = hs.getOrElse("content-length",
        sys.error("corrupt WARC: missing Content-Length")).toLong
      val payloadStart = headerEnd + 4
      require(payloadStart + len <= bytes.length,
        s"corrupt WARC: payload truncated ($len declared, " +
          s"${bytes.length - payloadStart} available)")
      if (hs.get("warc-type").contains("response")) {
        val payload =
          new String(bytes, payloadStart, len.toInt, Utf8)
        val split = payload.indexOf("\r\n\r\n")
        require(split >= 0, "corrupt WARC: HTTP payload has no body")
        val statusLine = payload.substring(0, payload.indexOf("\r\n"))
        val status = statusLine.split(" ")(1).toInt
        out += WarcRecord(
          hs.getOrElse("warc-record-id", ""),
          hs.getOrElse("warc-target-uri", ""),
          len, status, payload.substring(split + 4))
      }
      p = payloadStart + len.toInt
      while (p < bytes.length &&
          (bytes(p) == '\n'.toByte || bytes(p) == '\r'.toByte)) p += 1
    }
    out.toSeq
  }

  private def indexOf(hay: Array[Byte], from: Int, needle: String): Int = {
    val n = needle.getBytes(Ascii)
    var i = from
    val limit = hay.length - n.length
    while (i <= limit) {
      var j = 0
      while (j < n.length && hay(i + j) == n(j)) j += 1
      if (j == n.length) return i
      i += 1
    }
    -1
  }
}
