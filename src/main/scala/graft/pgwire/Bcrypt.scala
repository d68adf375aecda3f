package graft.pgwire

import java.nio.charset.StandardCharsets.UTF_8

/** bcrypt password hashing (Provos & Mazières, "A Future-Adaptable
  * Password Scheme", USENIX 1999 — the reference stores user passwords as
  * bcrypt hashes, authn.clj:18-75). Pure JVM implementation of the public
  * algorithm: Blowfish with the expensive key schedule (EksBlowfish),
  * encrypting "OrpheanBeholderScryDoubt" 64 times, rendered in bcrypt's
  * own base64 alphabet as `$2a$cost$saltchecksum`.
  *
  * The Blowfish P-array and S-boxes are initialized from the fractional
  * hexadecimal digits of π. Rather than embedding the 1042-word table,
  * [[PiDigits]] computes it at first use from Machin's formula in
  * BigInteger fixed point (a few hundred ms) — the table is therefore
  * correct by construction (and BcryptSpec cross-checks the first words
  * against the two π words everyone can verify by hand: 0x243f6a88,
  * 0x85a308d3).
  *
  * Caveat, stated plainly: BcryptSpec has no cross-library known-answer
  * vector. It pins self-consistency (hash/verify round trip, salt and
  * cost sensitivity, format), the π-derived constants, and one hash
  * produced by the earlier BigDecimal derivation of the same table — not
  * cross-library interop.
  */
object Bcrypt {

  // ---- π hex digits → Blowfish initial state -------------------------------

  private object PiDigits {
    /** First `words` 32-bit words of the fractional hex expansion of π,
      * via Machin: π = 16·atan(1/5) − 4·atan(1/239), in fixed point
      * (every value scaled by 2^bits, 64 guard bits below the last word;
      * each series term is one division by a small number, and the
      * truncation error of a few thousand terms stays far inside the
      * guard bits). */
    def piWords(words: Int): Array[Int] = {
      import java.math.BigInteger
      val bits = 32 * words + 64
      val one = BigInteger.ONE.shiftLeft(bits)
      def atanInv(x: Long): BigInteger = {
        // atan(1/x) = Σ (−1)^k / ((2k+1) x^(2k+1))
        val x2 = BigInteger.valueOf(x * x)
        var term = one.divide(BigInteger.valueOf(x))
        var sum = term
        var k = 1L
        while (term.signum != 0) {
          term = term.divide(x2)
          val add = term.divide(BigInteger.valueOf(2 * k + 1))
          sum = if (k % 2 == 1) sum.subtract(add) else sum.add(add)
          k += 1
        }
        sum
      }
      val frac = atanInv(5).shiftLeft(4).subtract(atanInv(239).shiftLeft(2))
        .subtract(one.multiply(BigInteger.valueOf(3))) // fractional part
      Array.tabulate(words)(i => frac.shiftRight(bits - 32 * (i + 1)).intValue)
    }
    lazy val all: Array[Int] = piWords(18 + 1024)
  }

  private def initialP: Array[Int] =
    java.util.Arrays.copyOfRange(PiDigits.all, 0, 18)
  private def initialS: Array[Int] =
    java.util.Arrays.copyOfRange(PiDigits.all, 18, 18 + 1024)

  /** First two π words, exposed for the spec's hand-check. */
  private[graft] def piCheckWords: (Int, Int) =
    (PiDigits.all(0), PiDigits.all(1))

  // ---- Blowfish core --------------------------------------------------------

  private final class Blowfish {
    val P: Array[Int] = initialP
    val S: Array[Int] = initialS

    private def f(x: Int): Int =
      ((S(x >>> 24) + S(256 + ((x >>> 16) & 0xff))) ^
        S(512 + ((x >>> 8) & 0xff))) + S(768 + (x & 0xff))

    def encryptBlock(lr: Array[Int]): Unit = {
      var l = lr(0); var r = lr(1)
      var i = 0
      while (i < 16) {
        l ^= P(i)
        r ^= f(l)
        val t = l; l = r; r = t
        i += 1
      }
      val t = l
      l = r ^ P(17)
      r = t ^ P(16)
      lr(0) = l; lr(1) = r
    }

    /** Cyclic 32-bit word stream over `data` (key / salt bytes). */
    private def nextWord(data: Array[Byte], off: Int): Int = {
      var w = 0
      var i = 0
      var o = off
      while (i < 4) {
        w = (w << 8) | (data(o % data.length) & 0xff)
        o += 1; i += 1
      }
      w
    }

    def expandKey(key: Array[Byte], salt: Array[Byte]): Unit = {
      var off = 0
      (0 until 18).foreach { i =>
        P(i) ^= nextWord(key, off); off += 4
      }
      val lr = Array(0, 0)
      var soff = 0
      def saltedEncrypt(): Unit = {
        if (salt.nonEmpty) {
          lr(0) ^= nextWord(salt, soff); soff += 4
          lr(1) ^= nextWord(salt, soff); soff += 4
        }
        encryptBlock(lr)
      }
      var i = 0
      while (i < 18) { saltedEncrypt(); P(i) = lr(0); P(i + 1) = lr(1); i += 2 }
      i = 0
      while (i < 1024) { saltedEncrypt(); S(i) = lr(0); S(i + 1) = lr(1); i += 2 }
    }
  }

  // ---- bcrypt ---------------------------------------------------------------

  private val Magic = "OrpheanBeholderScryDoubt".getBytes(UTF_8) // 24 bytes

  /** EksBlowfish + 64× ECB of the magic block → 23-byte digest. */
  private def rawHash(password: Array[Byte], salt: Array[Byte],
      cost: Int): Array[Byte] = {
    require(cost >= 4 && cost <= 31, s"bcrypt cost out of range: $cost")
    require(salt.length == 16, "bcrypt salt must be 16 bytes")
    val bf = new Blowfish
    bf.expandKey(password, salt)
    val rounds = 1L << cost
    var r = 0L
    while (r < rounds) {
      bf.expandKey(password, Array.emptyByteArray)
      bf.expandKey(salt, Array.emptyByteArray)
      r += 1
    }
    val block = new Array[Int](6)
    (0 until 6).foreach { i =>
      block(i) = ((Magic(i * 4) & 0xff) << 24) | ((Magic(i * 4 + 1) & 0xff) << 16) |
        ((Magic(i * 4 + 2) & 0xff) << 8) | (Magic(i * 4 + 3) & 0xff)
    }
    (0 until 64).foreach { _ =>
      (0 until 3).foreach { b =>
        val lr = Array(block(b * 2), block(b * 2 + 1))
        bf.encryptBlock(lr)
        block(b * 2) = lr(0); block(b * 2 + 1) = lr(1)
      }
    }
    val out = new Array[Byte](24)
    (0 until 6).foreach { i =>
      out(i * 4) = (block(i) >>> 24).toByte
      out(i * 4 + 1) = (block(i) >>> 16).toByte
      out(i * 4 + 2) = (block(i) >>> 8).toByte
      out(i * 4 + 3) = block(i).toByte
    }
    out.take(23) // bcrypt drops the last byte
  }

  // bcrypt's own base64 alphabet (not RFC 4648)
  private val B64 =
    "./ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"

  private def b64encode(data: Array[Byte], len: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < len) {
      var c1 = data(i) & 0xff
      i += 1
      sb.append(B64(c1 >> 2))
      c1 = (c1 & 0x03) << 4
      if (i >= len) { sb.append(B64(c1)); return sb.toString }
      var c2 = data(i) & 0xff
      i += 1
      c1 |= c2 >> 4
      sb.append(B64(c1))
      c1 = (c2 & 0x0f) << 2
      if (i >= len) { sb.append(B64(c1)); return sb.toString }
      c2 = data(i) & 0xff
      i += 1
      c1 |= c2 >> 6
      sb.append(B64(c1))
      sb.append(B64(c2 & 0x3f))
    }
    sb.toString
  }

  private def b64decode(s: String, maxLen: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < s.length - 1 && out.size < maxLen) {
      val c1 = B64.indexOf(s(i)); val c2 = B64.indexOf(s(i + 1))
      require(c1 >= 0 && c2 >= 0, "bad bcrypt base64")
      out.write(((c1 << 2) | (c2 >> 4)) & 0xff)
      if (out.size < maxLen && i + 2 < s.length) {
        val c3 = B64.indexOf(s(i + 2))
        require(c3 >= 0, "bad bcrypt base64")
        out.write((((c2 & 0x0f) << 4) | (c3 >> 2)) & 0xff)
        if (out.size < maxLen && i + 3 < s.length) {
          val c4 = B64.indexOf(s(i + 3))
          require(c4 >= 0, "bad bcrypt base64")
          out.write((((c3 & 0x03) << 6) | c4) & 0xff)
        }
      }
      i += 4
    }
    out.toByteArray
  }

  /** Hash `password` with the given cost; salt from SecureRandom. */
  def hash(password: String, cost: Int = 10,
      rng: java.security.SecureRandom = new java.security.SecureRandom())
      : String = {
    val salt = new Array[Byte](16)
    rng.nextBytes(salt)
    hashWithSalt(password, salt, cost)
  }

  private[graft] def hashWithSalt(password: String, salt: Array[Byte],
      cost: Int): String = {
    // null terminator per the original scheme
    val key = (password + "\u0000").getBytes(UTF_8)
    val digest = rawHash(key, salt, cost)
    f"$$2a$$$cost%02d$$" + b64encode(salt, 16) + b64encode(digest, 23)
  }

  /** Constant-shape verification against a `$2a$` hash string. Any
    * malformed input — non-numeric cost, cost out of [4,31], truncated
    * salt, bad base64 — is a rejection, never a throw (a corrupt stored
    * hash must surface as 28P01, not an internal error). */
  def verify(password: String, hashed: String): Boolean =
    try {
      val parts = hashed.split("\\$")
      if (parts.length != 4 || (parts(1) != "2a" && parts(1) != "2b"))
        return false
      if (parts(3).length < 22) return false
      val cost = parts(2).toInt
      if (cost < 4 || cost > 31) return false
      val salt = b64decode(parts(3).substring(0, 22), 16)
      if (salt.length != 16) return false
      val recomputed = hashWithSalt(password, salt, cost)
      java.security.MessageDigest.isEqual(
        recomputed.getBytes(UTF_8),
        hashed.replace("$2b$", "$2a$").getBytes(UTF_8))
    } catch { case _: RuntimeException => false }

  /** Force the π-table computation off the first authentication's path:
    * call once at server startup (PgServer does) and the multi-second
    * BigDecimal derivation happens on this daemon thread instead of
    * stalling the first connection's handshake. Idempotent. */
  def warmUp(): Unit = {
    val t = new Thread(() => { val _ = PiDigits.all }, "bcrypt-pi-warmup")
    t.setDaemon(true)
    t.start()
  }
}
