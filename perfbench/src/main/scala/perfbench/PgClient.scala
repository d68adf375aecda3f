package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, FilterInputStream, FilterOutputStream, InputStream, OutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong

/** An error the server reported for one statement (ErrorResponse). */
final case class PgError(code: String, message: String)
  extends RuntimeException(s"$code: $message")

/** What one simple query returned: column names, rows in text format
  * (`None` = SQL NULL) and the command tag. */
final case class PgResult(columns: Seq[String], rows: Seq[Seq[Option[String]]],
    tag: String)

/** A minimal PostgreSQL v3 client: trust-auth startup and the simple query
  * protocol only, which is all the benchmark sends. It counts the bytes it
  * sends and receives. One client is one connection; it is not thread-safe.
  */
final class PgClient(host: String, port: Int, user: String) extends AutoCloseable {
  val bytesIn = new AtomicLong
  val bytesOut = new AtomicLong

  private val sock = new Socket(host, port)
  sock.setTcpNoDelay(true)
  private val in = new DataInputStream(new BufferedInputStream(
    new PgClient.CountingIn(sock.getInputStream, bytesIn)))
  private val out = new DataOutputStream(new BufferedOutputStream(
    new PgClient.CountingOut(sock.getOutputStream, bytesOut)))

  startup()

  private def cstr(s: String): Array[Byte] = s.getBytes(UTF_8) :+ 0.toByte

  private def startup(): Unit = {
    val params = Seq("user" -> user, "database" -> "xtdb")
      .flatMap { case (k, v) => cstr(k) ++ cstr(v) } :+ 0.toByte
    out.writeInt(8 + params.length)
    out.writeInt(196608) // protocol 3.0
    out.write(params.toArray)
    out.flush()
    untilReady()
  }

  private def recv(): (Char, Array[Byte]) = {
    val t = in.readByte().toChar
    val body = new Array[Byte](in.readInt() - 4)
    in.readFully(body)
    (t, body)
  }

  /** Read messages up to ReadyForQuery, collecting the result; the first
    * ErrorResponse is thrown once the server is ready again. */
  private def untilReady(): PgResult = {
    var cols = Seq.empty[String]
    val rows = Seq.newBuilder[Seq[Option[String]]]
    var tag = ""
    var error: Option[PgError] = None
    var ready = false
    while (!ready) {
      val (t, body) = recv()
      val r = new Reader(body)
      t match {
        case 'R' =>
          val code = r.i32()
          if (code != 0) throw PgError("28000", s"unsupported authentication request $code")
        case 'T' => cols = (0 until r.i16()).map { _ => val n = r.cstr(); r.skip(18); n }
        case 'D' => rows += (0 until r.i16()).map { _ =>
          val len = r.i32()
          if (len < 0) None else Some(new String(r.bytes(len), UTF_8))
        }
        case 'C' => tag = r.cstr()
        case 'E' =>
          val fields = Iterator.continually(r.u8()).takeWhile(_ != 0)
            .map(code => code.toChar -> r.cstr()).toMap
          if (error.isEmpty)
            error = Some(PgError(fields.getOrElse('C', "?"), fields.getOrElse('M', "?")))
        case 'Z' => ready = true
        case _ => () // ParameterStatus, BackendKeyData, notices
      }
    }
    error.foreach(e => throw e)
    PgResult(cols, rows.result(), tag)
  }

  /** Run one statement through the simple query protocol. */
  def query(sql: String): PgResult = {
    val body = cstr(sql)
    out.writeByte('Q')
    out.writeInt(4 + body.length)
    out.write(body)
    out.flush()
    untilReady()
  }

  override def close(): Unit = {
    try { out.writeByte('X'); out.writeInt(4); out.flush() }
    finally sock.close()
  }

  private final class Reader(b: Array[Byte]) {
    private var p = 0
    def u8(): Int = { val v = b(p) & 0xff; p += 1; v }
    def i16(): Int = { val v = ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff); p += 2; v }
    def i32(): Int = {
      val v = ((b(p) & 0xff) << 24) | ((b(p + 1) & 0xff) << 16) |
        ((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff)
      p += 4; v
    }
    def skip(n: Int): Unit = p += n
    def bytes(n: Int): Array[Byte] = { val v = b.slice(p, p + n); p += n; v }
    def cstr(): String = {
      val end = b.indexOf(0.toByte, p)
      val s = new String(b, p, end - p, UTF_8)
      p = end + 1
      s
    }
  }
}

object PgClient {
  private final class CountingIn(s: InputStream, n: AtomicLong)
      extends FilterInputStream(s) {
    override def read(): Int = { val b = s.read(); if (b >= 0) n.incrementAndGet(); b }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val k = s.read(b, off, len); if (k > 0) n.addAndGet(k); k
    }
  }

  private final class CountingOut(s: OutputStream, n: AtomicLong)
      extends FilterOutputStream(s) {
    override def write(b: Int): Unit = { s.write(b); n.incrementAndGet() }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      s.write(b, off, len); n.addAndGet(len)
    }
  }
}
