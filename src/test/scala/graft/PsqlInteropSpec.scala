package graft

import graft.bitemporal.XtDb
import graft.pgwire.{PgAuth, PgServer}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Interop against a REAL libpq client: /usr/bin/psql (PostgreSQL 15)
  * driven as a subprocess. PgWireSpec pins the exact wire bytes with a
  * hand-rolled client; this spec proves an unmodified production client
  * negotiates startup, auth (cleartext/md5/SCRAM-SHA-256 — libpq picks the
  * mechanism from the server's Authentication request), TLS (sslmode=
  * require against the self-signed server context; libpq does not verify
  * CA at that level), simple queries, multi-statement scripts, and COPY
  * FROM STDIN end-to-end.
  *
  * Reference surface: pgwire.clj + authn.clj — its integration tests run
  * real drivers against the server; this is the same posture with the one
  * client binary the container ships.
  */
class PsqlInteropSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val psqlBin = new java.io.File("/usr/bin/psql")

  private lazy val spark: SparkSession = GraftSession.builder(4)
    .appName("psql-interop-spec")
    .getOrCreate()

  private var db: XtDb = _
  private var server: PgServer = _

  override def beforeAll(): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft_psql").toString
    db = new XtDb(spark, root)
    server = new PgServer(spark, db).start()
  }

  override def afterAll(): Unit = if (server != null) server.stop()

  /** Run psql against `port`; returns (exit code, stdout, stderr).
    * `-X` skips psqlrc, `-A -t` emit unaligned tuples-only output, `-v
    * ON_ERROR_STOP=1` makes SQL errors fail the exit code. */
  private def psql(port: Int, args: Seq[String],
      env: Map[String, String] = Map.empty,
      stdin: Option[String] = None): (Int, String, String) = {
    val cmd = new java.util.ArrayList[String]()
    cmd.add(psqlBin.getAbsolutePath)
    Seq("-X", "-A", "-t", "-v", "ON_ERROR_STOP=1",
      "-h", "127.0.0.1", "-p", port.toString, "-U", "alice",
      "-d", "xtdb").foreach(cmd.add)
    args.foreach(cmd.add)
    val pb = new ProcessBuilder(cmd)
    pb.environment().put("PGCONNECT_TIMEOUT", "10")
    pb.environment().put("PGSSLMODE", "disable") // tests opt in to TLS
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    val p = pb.start()
    stdin match {
      case Some(s) =>
        p.getOutputStream.write(s.getBytes("UTF-8"))
        p.getOutputStream.close()
      case None => p.getOutputStream.close()
    }
    val outB = p.getInputStream.readAllBytes()
    val errB = p.getErrorStream.readAllBytes()
    val code = p.waitFor()
    (code, new String(outB, "UTF-8"), new String(errB, "UTF-8"))
  }

  test("trust auth: SELECT over a real libpq session") {
    val (code, out, err) = psql(server.boundPort,
      Seq("-c", "SELECT 1 AS one, 'hi' AS s"))
    assert(code == 0, s"psql failed: $err")
    assert(out.trim == "1|hi")
  }

  test("DML then query across separate -c statements (two wire sessions)") {
    val (c1, _, e1) = psql(server.boundPort, Seq(
      "-c", "INSERT INTO psql_pets RECORDS {_id: 1, name: 'rex'}",
      "-c", "INSERT INTO psql_pets RECORDS {_id: 2, name: 'bella'}"))
    assert(c1 == 0, s"insert failed: $e1")
    val (c2, out, e2) = psql(server.boundPort,
      Seq("-c", "SELECT _id, name FROM psql_pets ORDER BY _id"))
    assert(c2 == 0, s"select failed: $e2")
    assert(out.trim.linesIterator.toSeq == Seq("1|rex", "2|bella"))
  }

  test("multi-statement script on stdin in one session") {
    val script =
      """INSERT INTO psql_script RECORDS {_id: 10, v: 'a'};
        |INSERT INTO psql_script RECORDS {_id: 11, v: 'b'};
        |SELECT count(*) AS n FROM psql_script;
        |""".stripMargin
    val (code, out, err) = psql(server.boundPort, Seq.empty,
      stdin = Some(script))
    assert(code == 0, s"script failed: $err")
    assert(out.trim.linesIterator.toSeq.last == "2")
  }

  test("SQL error surfaces as a libpq error and nonzero exit") {
    val (code, _, err) = psql(server.boundPort,
      Seq("-c", "SELECT FROM FROM nope"))
    assert(code != 0)
    assert(err.toLowerCase.contains("error"))
  }

  test("COPY FROM STDIN (csv with header) through the real client") {
    val (c1, _, e1) = psql(server.boundPort,
      Seq("-c", "COPY psql_copy FROM STDIN WITH (FORMAT 'csv')"),
      stdin = Some("_id,name\n1,ada\n2,grace\n"))
    assert(c1 == 0, s"copy failed: $e1")
    val (c2, out, e2) = psql(server.boundPort,
      Seq("-c", "SELECT _id, name FROM psql_copy ORDER BY _id"))
    assert(c2 == 0, s"post-copy select failed: $e2")
    assert(out.trim.linesIterator.toSeq == Seq("1|ada", "2|grace"))
  }

  test("cleartext password auth: libpq answers the password request") {
    val secured = new PgServer(spark, db,
      auth = PgAuth.Cleartext(_ => Some("sesame"))).start()
    try {
      val ok = psql(secured.boundPort, Seq("-c", "SELECT 2 AS two"),
        env = Map("PGPASSWORD" -> "sesame"))
      assert(ok._1 == 0, s"auth failed: ${ok._3}")
      assert(ok._2.trim == "2")
      val bad = psql(secured.boundPort, Seq("-c", "SELECT 2"),
        env = Map("PGPASSWORD" -> "wrong"))
      assert(bad._1 != 0)
    } finally secured.stop()
  }

  test("md5 password auth against libpq's md5 response") {
    val secured = new PgServer(spark, db,
      auth = PgAuth.Md5(_ => Some("sesame"))).start()
    try {
      val ok = psql(secured.boundPort, Seq("-c", "SELECT 3 AS three"),
        env = Map("PGPASSWORD" -> "sesame"))
      assert(ok._1 == 0, s"md5 auth failed: ${ok._3}")
      assert(ok._2.trim == "3")
      val bad = psql(secured.boundPort, Seq("-c", "SELECT 3"),
        env = Map("PGPASSWORD" -> "nope"))
      assert(bad._1 != 0)
    } finally secured.stop()
  }

  test("SCRAM-SHA-256 auth: libpq runs the full SASL exchange") {
    val secured = new PgServer(spark, db,
      auth = PgAuth.Scram(_ => Some("sesame"))).start()
    try {
      val ok = psql(secured.boundPort, Seq("-c", "SELECT 4 AS four"),
        env = Map("PGPASSWORD" -> "sesame"))
      assert(ok._1 == 0, s"scram auth failed: ${ok._3}")
      assert(ok._2.trim == "4")
      val bad = psql(secured.boundPort, Seq("-c", "SELECT 4"),
        env = Map("PGPASSWORD" -> "nope"))
      assert(bad._1 != 0)
    } finally secured.stop()
  }

  test("TLS + SCRAM: sslmode=require against a self-signed context, " +
      "SASL over the encrypted channel") {
    val ksDir = java.nio.file.Files.createTempDirectory("graft_psql_tls")
    val ksPath = ksDir.resolve("server.p12").toString
    val ret = new ProcessBuilder("keytool", "-genkeypair", "-alias", "graft",
      "-keyalg", "RSA", "-keysize", "2048", "-validity", "1",
      "-keystore", ksPath, "-storetype", "PKCS12",
      "-storepass", "changeit", "-dname", "CN=localhost")
      .redirectErrorStream(true).start().waitFor()
    assert(ret == 0, "keytool keypair generation failed")
    val ks = java.security.KeyStore.getInstance("PKCS12")
    val fis = new java.io.FileInputStream(ksPath)
    try ks.load(fis, "changeit".toCharArray) finally fis.close()
    val kmf = javax.net.ssl.KeyManagerFactory.getInstance(
      javax.net.ssl.KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(ks, "changeit".toCharArray)
    val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
    ctx.init(kmf.getKeyManagers, null, null)
    val secured = new PgServer(spark, db,
      auth = PgAuth.Scram(_ => Some("sesame")),
      sslContext = Some(ctx)).start()
    try {
      val (code, out, err) = psql(secured.boundPort,
        Seq("-c", "SELECT 5 AS five"),
        env = Map("PGSSLMODE" -> "require", "PGPASSWORD" -> "sesame"))
      assert(code == 0, s"tls session failed: $err")
      assert(out.trim == "5")
    } finally secured.stop()
  }
}
