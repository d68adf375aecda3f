package graft

import graft.bitemporal.XtDb
import graft.sql.XtSqlEngine
import graft.sql.XtSqlParser.SqlParseException
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Role membership + authorization, ported from the reference's
  * authz_test.clj / pgwire/authz_test.clj scenarios: GRANT/REVOKE
  * round-trips, membership surfaced through pg_auth_members ⋈ pg_roles,
  * as-of-system-time membership history (#5683 soft-close), superuser-only
  * management, and the forbidden-schemas DML guard. */
class RoleAuthzSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  private def fresh(): (XtDb, XtSqlEngine) = {
    val root = java.nio.file.Files.createTempDirectory("graft_authz").toString
    val db = new XtDb(spark, root)
    (db, new XtSqlEngine(spark, db))
  }

  private val membershipQ = """
    SELECT r.rolname AS role, u.rolname AS member
    FROM pg_auth_members m
    JOIN pg_roles r ON r.oid = m.roleid
    JOIN pg_roles u ON u.oid = m.member
    ORDER BY role, member"""

  test("grant/revoke round trip: re-grant supersedes, absent revoke no-op") {
    val (db, eng) = fresh()
    import spark.implicits._
    eng.sql("GRANT analyst TO alice")
    eng.sql("GRANT admin TO alice")
    eng.sql("GRANT analyst TO bob")
    def members(): Set[(String, String)] =
      eng.sql("SELECT role, `user` FROM xt_role_membership")
        .as[(String, String)].collect().toSet
    assert(members() == Set(("analyst", "alice"), ("admin", "alice"),
      ("analyst", "bob")))
    eng.sql("REVOKE analyst FROM alice")
    assert(members() == Set(("admin", "alice"), ("analyst", "bob")))
    // re-GRANT supersedes; REVOKE of an absent membership is a no-op
    eng.sql("GRANT analyst TO alice")
    eng.sql("REVOKE reporter FROM carol")
    assert(members() == Set(("analyst", "alice"), ("admin", "alice"),
      ("analyst", "bob")))
  }

  test("membership surfaced through pg_auth_members join pg_roles") {
    val (db, eng) = fresh()
    import spark.implicits._
    eng.sql("GRANT analyst TO alice")
    eng.sql("GRANT analyst TO bob")
    eng.sql("GRANT admin TO alice")
    assert(eng.sql(membershipQ).as[(String, String)].collect().toSeq ==
      Seq(("admin", "alice"), ("analyst", "alice"), ("analyst", "bob")))
    // users log in, roles don't, xtdb is superuser
    assert(eng.sql(
      "SELECT rolname, rolsuper, rolcanlogin FROM pg_roles ORDER BY rolname")
      .as[(String, Boolean, Boolean)].collect().toSeq ==
      Seq(("admin", false, false), ("alice", false, true),
        ("analyst", false, false), ("bob", false, true),
        ("xtdb", true, true)))
  }

  test("a name that is both user and role appears once, as a login user") {
    val (db, eng) = fresh()
    import spark.implicits._
    eng.sql("GRANT analyst TO alice")
    eng.sql("GRANT alice TO bob")
    assert(eng.sql(
      "SELECT rolname, rolcanlogin FROM pg_roles WHERE rolname = 'alice'")
      .as[(String, Boolean)].collect().toSeq == Seq(("alice", true)))
    assert(eng.sql(membershipQ).as[(String, String)].collect().toSeq ==
      Seq(("alice", "bob"), ("analyst", "alice")))
  }

  test("membership queryable as-of system time (revoke = soft close)") {
    val (db, eng) = fresh()
    import spark.implicits._
    eng.sql("GRANT analyst TO alice")
    val beforeRevoke = db.snapshotToken()
    eng.sql("REVOKE analyst FROM alice")
    // now: gone; as-of the pre-revoke token: present
    assert(db.roleGrants.count() == 0)
    assert(db.roleGrantsAsOf(Some(beforeRevoke))
      .select("what", "grantee").as[(String, String)].collect().toSeq ==
      Seq(("analyst", "alice")))
    // and the full history keeps both actions
    assert(eng.sql(
      "SELECT granted FROM xt_role_membership_history ORDER BY system_from")
      .as[Boolean].collect().toSeq == Seq(true, false))
  }

  test("GRANT/REVOKE requires the superuser principal") {
    val (db, eng) = fresh()
    val alice = eng.withPrincipal("alice")
    val e = intercept[SqlParseException] {
      alice.sql("GRANT reporter TO bob")
    }
    assert(e.getMessage.toLowerCase.contains("superuser"))
    // the xtdb principal (and the embedded no-principal engine) may manage
    eng.withPrincipal("xtdb").sql("GRANT reporter TO bob")
    import spark.implicits._
    assert(db.roleGrants.select("grantee").as[String].collect().toSeq ==
      Seq("bob"))
  }

  test("DML to system tables is rejected on every route") {
    val (_, eng) = fresh()
    val e1 = intercept[SqlParseException] {
      eng.sql("INSERT INTO xt_role_membership RECORDS {_id: 1, \"user\": 'eve', role: 'admin'}")
    }
    assert(e1.getMessage.contains("Cannot write to table"))
    intercept[SqlParseException] {
      eng.sql("UPDATE pg_roles SET rolsuper = true WHERE rolname = 'eve'")
    }
    // staged inside a transaction: rejected at stage time too
    eng.sql("BEGIN")
    intercept[SqlParseException] {
      eng.sql("DELETE FROM information_schema_columns WHERE true")
    }
    eng.sql("ROLLBACK")
  }

  test("a fresh instance's next transaction comes after the latest grant") {
    val (db, eng) = fresh()
    import spark.implicits._
    // an override an hour ahead puts the log head past the wall clock, so
    // the grant's time follows the head, not the clock
    val ahead = new java.sql.Timestamp(System.currentTimeMillis() + 3600000L)
    db.submitTx(Seq(graft.bitemporal.TxOp.Put("r_docs",
      Seq((1L, 1L)).toDF("_id", "v"))), Some(ahead))
    eng.sql("GRANT analyst TO alice")
    val grantAt = db.roleGrants.select("at").as[java.sql.Timestamp]
      .collect().head
    assert(grantAt.after(ahead))
    val reopened = new XtDb(spark, db.root)
    val next = reopened.submitTx(Seq(graft.bitemporal.TxOp.Put("r_docs",
      Seq((2L, 2L)).toDF("_id", "v"))))
    assert(next.after(grantAt),
      s"next transaction at $next must follow the grant at $grantAt")
  }
}
