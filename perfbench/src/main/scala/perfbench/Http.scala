package perfbench

import java.io.{BufferedInputStream, ByteArrayOutputStream, OutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

/** Minimal HTTP/1.1 keep-alive client over one loopback socket: the
  * closed-loop benchmark client. Minimal on purpose, so the client's own
  * cost stays small and steady next to the server's, and request and
  * response byte counts are exact.
  */
final class Http(port: Int) {
  private var sock: Socket = _
  private var in: BufferedInputStream = _
  private var out: OutputStream = _

  /** Bytes of the last request and response, headers included. */
  var reqBytes = 0L
  var respBytes = 0L

  private def connect(): Unit = {
    sock = new Socket("127.0.0.1", port)
    sock.setTcpNoDelay(true)
    in = new BufferedInputStream(sock.getInputStream, 1 << 16)
    out = sock.getOutputStream
  }

  def close(): Unit = if (sock != null) { sock.close(); sock = null }

  /** One request; returns (status, body). Reconnects once if the server
    * closed an idle keep-alive connection.
    */
  def call(method: String, path: String, body: String = null): (Int, String) = {
    val b = if (body == null) Array.emptyByteArray else body.getBytes(UTF_8)
    val head = new StringBuilder(128)
      .append(method).append(' ').append(path).append(" HTTP/1.1\r\n")
      .append("Host: 127.0.0.1\r\n")
    if (body != null)
      head.append("Content-Type: application/json\r\nContent-Length: ")
        .append(b.length).append("\r\n")
    head.append("\r\n")
    val h = head.toString.getBytes(ISO_8859_1)
    reqBytes = h.length + b.length
    def attempt(): (Int, String) = {
      if (sock == null) connect()
      out.write(h); if (b.nonEmpty) out.write(b); out.flush()
      read()
    }
    try attempt()
    catch { case _: java.io.IOException => close(); attempt() }
  }

  private def line(): String = {
    val sb = new StringBuilder
    var c = in.read()
    while (c != '\n') {
      if (c < 0) throw new java.io.EOFException("connection closed")
      if (c != '\r') sb.append(c.toChar)
      c = in.read()
    }
    sb.toString
  }

  private def read(): (Int, String) = {
    val status = line()
    var n = status.length + 2L
    val code = status.split(' ')(1).toInt
    var len = -1
    var chunked = false
    var closeAfter = false
    var h = line()
    while (h.nonEmpty) {
      n += h.length + 2
      val i = h.indexOf(':')
      val k = h.substring(0, i).trim.toLowerCase
      val v = h.substring(i + 1).trim
      if (k == "content-length") len = v.toInt
      else if (k == "transfer-encoding") chunked = v.equalsIgnoreCase("chunked")
      else if (k == "connection") closeAfter = v.equalsIgnoreCase("close")
      h = line()
    }
    n += 2
    val body =
      if (chunked) {
        val buf = new ByteArrayOutputStream
        var size = Integer.parseInt(line().trim, 16)
        while (size > 0) {
          buf.write(in.readNBytes(size)); line()
          size = Integer.parseInt(line().trim, 16)
        }
        line()
        buf.toByteArray
      } else if (len > 0) in.readNBytes(len)
      else Array.emptyByteArray
    respBytes = n + body.length
    if (closeAfter) close()
    (code, new String(body, UTF_8))
  }
}
