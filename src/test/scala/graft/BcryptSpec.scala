package graft

import graft.pgwire.Bcrypt
import org.scalatest.funsuite.AnyFunSuite

/** Pins the π-derived Blowfish constants and bcrypt's observable
  * contract. There are no cross-library known-answer vectors (stated in
  * Bcrypt's scaladoc); what IS independently checkable is checked: the
  * first two P-array words are the universally known leading hex digits
  * of π, and one hash is pinned to the output of the earlier BigDecimal
  * derivation of the table, so the fixed-point derivation provably
  * changes no hash. */
class BcryptSpec extends AnyFunSuite {

  test("Blowfish init state = fractional hex digits of pi") {
    // 3.243f6a8885a308d3... — the two words anyone can check by hand
    val (w0, w1) = Bcrypt.piCheckWords
    assert(w0 == 0x243f6a88, f"P[0] = $w0%08x")
    assert(w1 == 0x85a308d3.toInt, f"P[1] = $w1%08x")
  }

  test("a fixed password, salt and cost hash to the value the BigDecimal " +
      "derivation of the pi table produced") {
    val salt = Array.tabulate[Byte](16)(i => (i * 11 + 5).toByte)
    assert(Bcrypt.hashWithSalt("pinned password", salt, 5) ==
      "$2a$05$/P.ZHhC6PzHbYFL8gXQdoeRnVOOWsJvqDwjfijH/7TRiqnqohcZ76")
  }

  test("hash/verify round trip; wrong password rejected") {
    val h = Bcrypt.hash("correct horse battery staple", cost = 4)
    assert(h.startsWith("$2a$04$") && h.length == 60)
    assert(Bcrypt.verify("correct horse battery staple", h))
    assert(!Bcrypt.verify("Correct horse battery staple", h))
    assert(!Bcrypt.verify("", h))
  }

  test("deterministic given salt; sensitive to salt and cost") {
    val salt = Array.tabulate[Byte](16)(i => (i * 17 + 3).toByte)
    val a = Bcrypt.hashWithSalt("sesame", salt, 4)
    val b = Bcrypt.hashWithSalt("sesame", salt, 4)
    assert(a == b)
    val otherSalt = Array.tabulate[Byte](16)(i => (i * 31 + 7).toByte)
    assert(Bcrypt.hashWithSalt("sesame", otherSalt, 4) != a)
    val higherCost = Bcrypt.hashWithSalt("sesame", salt, 6)
    assert(higherCost != a && higherCost.startsWith("$2a$06$"))
    assert(Bcrypt.verify("sesame", higherCost))
  }

  test("$2b$ hashes verify; malformed strings are rejected not thrown") {
    val salt = Array.tabulate[Byte](16)(i => i.toByte)
    val h = Bcrypt.hashWithSalt("pw", salt, 4).replace("$2a$", "$2b$")
    assert(Bcrypt.verify("pw", h))
    assert(!Bcrypt.verify("pw", "$1$md5$whatever"))
    assert(!Bcrypt.verify("pw", "not a hash"))
    // $2a$-shaped corruption must also reject, never throw (a corrupt
    // stored hash surfaces as 28P01, not an internal error)
    assert(!Bcrypt.verify("pw", "$2a$xx$" + "A" * 53)) // non-numeric cost
    assert(!Bcrypt.verify("pw", "$2a$04$short"))       // truncated salt
    assert(!Bcrypt.verify("pw", "$2a$03$" + "A" * 53)) // cost below range
    assert(!Bcrypt.verify("pw", "$2a$99$" + "A" * 53)) // cost above range
  }

  test("PgAuth.Verify closes over a bcrypt store") {
    val stored = Map("alice" -> Bcrypt.hash("wonderland", cost = 4))
    val check = (u: String, p: String) =>
      stored.get(u).exists(h => Bcrypt.verify(p, h))
    assert(check("alice", "wonderland"))
    assert(!check("alice", "rabbit"))
    assert(!check("bob", "wonderland"))
    // the wire half (28P01 on mismatch) is covered in PgWireSpec
    assert(graft.pgwire.PgAuth.Verify(check) != null)
  }
}
