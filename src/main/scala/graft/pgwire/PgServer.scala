package graft.pgwire

import graft.bitemporal.{TxOp, XtDb}
import graft.sql.{SqlLexer, Tok, XtSqlEngine}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.net.{ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets.UTF_8

/** Postgres wire-protocol (v3) front door — the reference's primary entry
  * surface (reference: core/src/main/clojure/xtdb/pgwire.clj; the protocol
  * itself is public PostgreSQL documentation, "Frontend/Backend Protocol").
  *
  * Each connection gets its own [[XtSqlEngine]] session (interactive
  * transactions, SET/SHOW, PREPARE) over the shared [[XtDb]] store — the
  * reference's connection/session split (pgwire.clj connection state).
  * Supported: startup with pluggable authentication ([[PgAuth]]: trust /
  * cleartext / md5 / SCRAM-SHA-256, reference authn.clj:18-75) and TLS
  * (SSLRequest accepted when an SSLContext is supplied, refused 'N'
  * otherwise — reference pgwire.clj:274-284), the simple query protocol
  * ('Q', `;`-scripts included), and the extended protocol
  * (Parse/Bind/Describe/Execute/Close/Sync) with `$n` placeholders spliced
  * lexer-safely. All values travel in text format, typed by OID in
  * RowDescription.
  *
  * Scale note: the wire layer only funnels FINAL result rows through the
  * driver socket — query execution stays distributed in Spark. This is the
  * same funnel every engine's wire protocol has, not a `.collect()` in an
  * operator.
  */
final class PgServer(spark: SparkSession, db: XtDb, port: Int = 0,
    password: Option[String] = None,
    auth: PgAuth = PgAuth.Trust,
    sslContext: Option[javax.net.ssl.SSLContext] = None) {

  // back-compat: the single shared cleartext password predates PgAuth
  private val effectiveAuth: PgAuth = (password, auth) match {
    case (Some(p), PgAuth.Trust) => PgAuth.Cleartext(_ => Some(p))
    case _ => auth
  }

  private val server = new ServerSocket(port)
  @volatile private var running = true
  private val threads = java.util.concurrent.ConcurrentHashMap.newKeySet[Thread]()
  // CancelRequest routing: BackendKeyData (pid, secret) -> the Spark job
  // group every statement of that connection runs under. A cancel
  // connection looks the pair up and cancels the group — psql's Ctrl-C.
  private val pidGen = new java.util.concurrent.atomic.AtomicInteger(1000)
  private val cancelKeys =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), String]()

  /** The actual bound port (useful with port = 0). */
  def boundPort: Int = server.getLocalPort

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val sock = server.accept()
        val t = new Thread(() => handle(sock), s"pgwire-conn")
        t.setDaemon(true)
        threads.add(t)
        t.start()
      } catch {
        case _: SocketException => () // closed during accept
        case _: Exception if !running => ()
      }
    }
  }, "pgwire-accept")

  def start(): PgServer = {
    // bcrypt's π-table derivation takes seconds on first use; move it off
    // the first connection's handshake path
    effectiveAuth match {
      case PgAuth.Verify(_) => Bcrypt.warmUp()
      case _ => ()
    }
    acceptor.setDaemon(true); acceptor.start(); this
  }

  def stop(): Unit = {
    running = false
    try server.close() catch { case _: Exception => () }
    threads.forEach(t => t.interrupt())
  }

  // ---- per-connection session ---------------------------------------------

  private def handle(sock0: Socket): Unit = {
    var sock = sock0
    var in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    var out = new DataOutputStream(
      new BufferedOutputStream(sock.getOutputStream))
    val pid = pidGen.incrementAndGet()
    val key = new java.security.SecureRandom().nextInt()
    val jobGroup = s"pgwire-$pid"
    try {
      val params = startup(in, out, pid, key, () => {
        // TLS accepted: wrap the raw socket; all subsequent traffic
        // (including the re-sent StartupMessage) flows through the
        // SSLSocket's streams
        val factory = sslContext.get.getSocketFactory
        val ssl = factory.createSocket(sock, null, sock.getPort, true)
          .asInstanceOf[javax.net.ssl.SSLSocket]
        ssl.setUseClientMode(false)
        ssl.startHandshake()
        sock = ssl
        in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
        out = new DataOutputStream(
          new BufferedOutputStream(sock.getOutputStream))
        (in, out)
      }).getOrElse(return)
      // every statement of this connection runs under its own Spark job
      // group (thread-local property; the whole session lives on this
      // handler thread) so a CancelRequest can kill exactly its jobs
      cancelKeys.put((pid, key), jobGroup)
      spark.sparkContext.setJobGroup(jobGroup,
        s"pgwire connection $pid", interruptOnCancel = true)
      // connection principal = the startup user (reference authn): GRANT/
      // REVOKE over the wire requires connecting as the xtdb superuser
      val eng = new XtSqlEngine(spark, db)
        .withPrincipal(params.getOrElse("user", "xtdb"))
      // extended-protocol state: statement name -> (query text with $n
      // placeholder spans, Parse-time parameter type OIDs — kept so Bind
      // can decode binary-format parameters), portal name -> (fully-bound
      // SQL text, result format codes from Bind), and the run state of
      // partially-executed (suspended) result-set portals
      val prepared =
        scala.collection.mutable.Map.empty[String, (String, Seq[Int])]
      val portals =
        scala.collection.mutable.Map.empty[String, (String, Seq[Int])]
      val portalRuns = scala.collection.mutable.Map.empty[String, PortalRun]
      var skipUntilSync = false
      var open = true
      while (open) {
        val msgType = in.read()
        if (msgType < 0) open = false
        else {
          val len = in.readInt()
          val payload = new Array[Byte](len - 4)
          in.readFully(payload)
          val r = new Reader(payload)
          (msgType.toChar: @unchecked) match {
            case 'X' => open = false
            case 'S' => // Sync
              skipUntilSync = false
              // Sync ends the IMPLICIT transaction in autocommit, and PG
              // destroys non-holdable portals at transaction end — so
              // outside an explicit BEGIN every portal (suspended or not)
              // dies here, exactly the behavior a libpq-exact client keys
              // on. Inside BEGIN portals survive until COMMIT/ROLLBACK —
              // the JDBC setFetchSize cursor flow. Prepared statements are
              // session-scoped and always survive.
              if (!eng.inTransaction) { portals.clear(); portalRuns.clear() }
              readyForQuery(out, eng)
            case 'H' => out.flush()
            case _ if skipUntilSync => () // discard until Sync after error
            case 'Q' =>
              val text = r.cstr()
              val stmts = splitScript(text)
              val epoch0 = eng.txEpoch
              if (stmts.length == 1 && isCopyFromStdin(stmts.head)) {
                try copyInWire(stmts.head, in, out)
                catch { case e: Exception => error(out, e) }
              } else simpleQuery(eng, text, out)
              // any COMMIT/ROLLBACK in the message ends a transaction and
              // PG destroys its portals right there — the tx-END counter
              // (not the net before/after state) catches scripts that
              // immediately re-open one ('COMMIT; BEGIN')
              if (eng.txEpoch != epoch0) {
                portals.clear(); portalRuns.clear()
              }
              readyForQuery(out, eng)
            case 'P' => // Parse
              val name = r.cstr(); val query = r.cstr()
              val nOids = r.i16()
              val oids = (0 until nOids).map(_ => r.i32())
              prepared(name) = (query, oids)
              msg(out, '1')(_ => ())
            case 'B' => // Bind
              try {
                val portal = r.cstr(); val stmt = r.cstr()
                val nFmt = r.i16()
                val pFmts = (0 until nFmt).map(_ => r.i16())
                require(pFmts.forall(f => f == 0 || f == 1),
                  s"unknown parameter format code in ${pFmts.mkString(",")}")
                val (text, oids) = prepared.getOrElse(stmt,
                  sys.error(s"unknown prepared statement: $stmt"))
                val nParams = r.i16()
                // pg semantics: no codes = all text, one code = applies to
                // every parameter, else positional (must match count)
                require(pFmts.length <= 1 || pFmts.length == nParams,
                  s"bind: ${pFmts.length} parameter format codes for " +
                    s"$nParams parameters (must be 0, 1, or the count)")
                def pFmt(i: Int): Int =
                  if (pFmts.isEmpty) 0
                  else if (pFmts.length == 1) pFmts.head else pFmts(i)
                val params = (0 until nParams).map { i =>
                  val l = r.i32()
                  if (l < 0) null
                  else if (pFmt(i) == 0) new String(r.bytes(l), UTF_8)
                  else {
                    // binary parameter: decode via the Parse-time OID —
                    // without a declared type the bytes are uninterpretable,
                    // so refuse loudly rather than corrupt the statement
                    val oid = if (i < oids.length) oids(i) else 0
                    require(oid != 0, s"binary-format parameter $$${i + 1} " +
                      "has no Parse-time type OID to decode with")
                    decodeBinaryParam(r.bytes(l), oid, i + 1)
                  }
                }
                val nRFmt = r.i16()
                val rFmts = (0 until nRFmt).map(_ => r.i16())
                require(rFmts.forall(f => f == 0 || f == 1),
                  s"unknown result format code in ${rFmts.mkString(",")}")
                portals(portal) = (bindPlaceholders(text, params), rFmts)
                portalRuns.remove(portal) // re-Bind restarts the portal
                msg(out, '2')(_ => ())
              } catch { case e: Exception =>
                error(out, e); skipUntilSync = true
              }
            case 'D' => // Describe
              val kind = r.byte().toChar; val name = r.cstr()
              val described =
                if (kind == 'S')
                  prepared.get(name).map { case (t, _) => (t, Seq.empty[Int]) }
                else portals.get(name)
              described match {
                case None => msg(out, 'n')(_ => ())
                case Some((t, fmts)) =>
                  if (kind == 'S') { // ParameterDescription: echo the
                    // Parse-time OIDs, 0 (unspecified) for undeclared ones
                    val n = placeholderSpans(t).length
                    val oids = prepared(name)._2
                    msg(out, 't') { w =>
                      w.writeShort(n)
                      (0 until n).foreach(i =>
                        w.writeInt(if (i < oids.length) oids(i) else 0))
                    }
                  }
                  // statements may still hold unbound $n — describe rowdesc
                  // only for bindable text
                  try {
                    if (isResultSet(t))
                      rowDescription(out, eng.sql(stripBind(t)).schema, fmts)
                    else msg(out, 'n')(_ => ())
                  } catch { case _: Exception => msg(out, 'n')(_ => ()) }
              }
            case 'E' => // Execute (maxRows > 0 => resumable portal)
              try {
                val portal = r.cstr(); val maxRows = r.i32()
                val (text, rFmts) = portals.getOrElse(portal,
                  sys.error(s"unknown portal: $portal"))
                if (!isResultSet(text)) {
                  val epoch0 = eng.txEpoch
                  runStatement(eng, text, out, describe = false)
                  // an extended-protocol COMMIT/ROLLBACK also destroys
                  // the transaction's portals immediately (PG portal
                  // lifetime), not at the next Sync — epoch-counted so a
                  // script that re-opens a tx cannot mask the end
                  if (eng.txEpoch != epoch0) {
                    portals.clear(); portalRuns.clear()
                  }
                } else {
                  // first Execute materializes the portal as a driver-side
                  // partition-at-a-time cursor (toLocalIterator — Spark
                  // pulls one partition per fetch round, never the whole
                  // relation, which is what a JDBC setFetchSize client is
                  // asking for); later Executes resume it
                  val run = portalRuns.getOrElseUpdate(portal, {
                    val df = eng.sql(text)
                    new PortalRun(df.schema, df.toLocalIterator())
                  })
                  var n = 0
                  while (run.it.hasNext && (maxRows <= 0 || n < maxRows)) {
                    dataRow(out, run.it.next(), run.schema, rFmts)
                    n += 1
                  }
                  run.sent += n
                  if (run.it.hasNext) msg(out, 's')(_ => ()) // PortalSuspended
                  else {
                    val total = run.sent
                    portalRuns.remove(portal)
                    msg(out, 'C')(w => cstr(w, s"SELECT $total"))
                  }
                }
              } catch { case e: Exception =>
                error(out, e); skipUntilSync = true
              }
            case 'C' => // Close
              val kind = r.byte().toChar; val name = r.cstr()
              if (kind == 'S') prepared.remove(name)
              else { portals.remove(name); portalRuns.remove(name) }
              msg(out, '3')(_ => ())
            case 'p' => () // stray password message
            case _ => () // unsupported message: ignore (e.g. COPY subprotocol)
          }
          out.flush()
        }
      }
    } catch {
      case _: EOFException | _: SocketException => ()
      case e: Exception =>
        try { error(out, e); out.flush() } catch { case _: Exception => () }
    } finally {
      cancelKeys.remove((pid, key))
      threads.remove(Thread.currentThread())
      try sock.close() catch { case _: Exception => () }
    }
  }

  /** Startup negotiation: TLS upgrade (SSLRequest → 'S' + handshake when an
    * SSLContext is configured, 'N' otherwise), then the configured [[PgAuth]]
    * exchange, then parameter statuses + ReadyForQuery. Returns the startup
    * parameters, or None to drop the connection. `upgrade` wraps the raw
    * socket in TLS and hands back the new streams. A CancelRequest on this
    * (fresh) connection cancels the identified connection's Spark job
    * group and drops — the psql Ctrl-C path. */
  private def startup(in0: DataInputStream, out0: DataOutputStream,
      pid: Int, key: Int,
      upgrade: () => (DataInputStream, DataOutputStream))
      : Option[Map[String, String]] = {
    var in = in0
    var out = out0
    var params = Map.empty[String, String]
    var negotiating = true
    while (negotiating) {
      val len = in.readInt()
      val body = new Array[Byte](len - 4)
      in.readFully(body)
      val r = new Reader(body)
      r.i32() match {
        case 80877103 if sslContext.isDefined => // SSLRequest: accept
          out.write('S'); out.flush()
          val (i2, o2) = upgrade()
          in = i2; out = o2
        case 80877103 | 80877104 => out.write('N'); out.flush() // SSL/GSS: no
        case 80877102 => // CancelRequest: pid + secret, then drop silently
          val (cp, ck) = (r.i32(), r.i32())
          Option(cancelKeys.get((cp, ck))).foreach { group =>
            spark.sparkContext.cancelJobGroup(group)
          }
          return None
        case _ =>
          var done = false
          while (!done && r.remaining > 0) {
            val k = r.cstr()
            if (k.isEmpty) done = true else params += (k -> r.cstr())
          }
          negotiating = false
      }
    }
    val user = params.getOrElse("user", "?")
    def passwordMessage(): Option[Array[Byte]] = {
      val t = in.read()
      val len = in.readInt()
      val body = new Array[Byte](len - 4)
      in.readFully(body)
      if (t != 'p') None else Some(body)
    }
    def reject(): Option[Map[String, String]] = {
      errorMsg(out, "28P01",
        s"password authentication failed for user \"$user\"")
      out.flush()
      None
    }
    effectiveAuth match {
      case PgAuth.Trust => ()
      case PgAuth.Cleartext(passwordFor) =>
        msg(out, 'R')(_.writeInt(3)) // AuthenticationCleartextPassword
        out.flush()
        val given = passwordMessage().map(b => new Reader(b).cstr())
        if (!passwordFor(user).exists(given.contains(_))) return reject()
      case PgAuth.Verify(check) =>
        msg(out, 'R')(_.writeInt(3)) // AuthenticationCleartextPassword
        out.flush()
        val given = passwordMessage().map(b => new Reader(b).cstr())
        if (!given.exists(check(user, _))) return reject()
      case PgAuth.Md5(passwordFor) =>
        val salt = new Array[Byte](4)
        new java.security.SecureRandom().nextBytes(salt)
        msg(out, 'R') { w => w.writeInt(5); w.write(salt) }
        out.flush()
        val given = passwordMessage().map(b => new Reader(b).cstr())
        val expect = passwordFor(user).map(PgAuth.md5Response(user, _, salt))
        if (expect.isEmpty || given != expect) return reject()
      case PgAuth.Scram(passwordFor, iterations) =>
        // AuthenticationSASL: advertise SCRAM-SHA-256 (list is NUL-terminated)
        msg(out, 'R') { w =>
          w.writeInt(10); cstr(w, "SCRAM-SHA-256"); w.writeByte(0)
        }
        out.flush()
        // unknown users run the full mock exchange against a random
        // password (like real Postgres) so neither message sequence nor
        // timing can enumerate valid usernames — the proof then fails
        // at client-final exactly like a wrong password
        val pw = passwordFor(user)
          .getOrElse(java.util.UUID.randomUUID().toString)
        val scram = new PgAuth.ScramServer(user, pw, iterations)
        // SASLInitialResponse: mechanism name + int32-length payload
        val initial = passwordMessage().getOrElse(return reject())
        val ir = new Reader(initial)
        val mech = ir.cstr()
        if (mech != "SCRAM-SHA-256") return reject()
        val cfLen = ir.i32()
        // length -1 is protocol-legal "no initial response"; without a
        // client-first there is no proof to verify — clean 28P01
        if (cfLen < 0 || cfLen > ir.remaining) return reject()
        val clientFirst = new String(ir.bytes(cfLen), UTF_8)
        val serverFirst =
          try scram.serverFirstMessage(clientFirst)
          catch { case _: Exception => return reject() }
        msg(out, 'R') { w =>
          w.writeInt(11); w.write(serverFirst.getBytes(UTF_8)) // SASLContinue
        }
        out.flush()
        val clientFinal = passwordMessage()
          .map(b => new String(b, UTF_8)).getOrElse(return reject())
        scram.verify(clientFinal) match {
          case None => return reject()
          case Some(serverFinal) =>
            msg(out, 'R') { w =>
              w.writeInt(12); w.write(serverFinal.getBytes(UTF_8)) // SASLFinal
            }
        }
    }
    msg(out, 'R')(_.writeInt(0)) // AuthenticationOk
    Seq("server_version" -> "16.0 (graft)", "server_encoding" -> "UTF8",
      "client_encoding" -> "UTF8", "DateStyle" -> "ISO",
      "integer_datetimes" -> "on", "standard_conforming_strings" -> "on",
      "TimeZone" -> spark.conf.get("spark.sql.session.timeZone", "UTC"))
      .foreach { case (k, v) =>
        msg(out, 'S') { w => cstr(w, k); cstr(w, v) }
      }
    msg(out, 'K') { w => w.writeInt(pid); w.writeInt(key) } // BackendKeyData
    readyForQuery(out)
    out.flush()
    Some(params)
  }

  // ---- query execution ----------------------------------------------------

  /** Simple query: a `;`-script runs statement by statement, each with its
    * own result/tag (unlike sqlScript, which returns only the last). */
  private def simpleQuery(eng: XtSqlEngine, text: String,
      out: DataOutputStream): Unit = {
    val stmts = splitScript(text)
    if (stmts.isEmpty) { msg(out, 'I')(_ => ()); return }
    var failed = false
    stmts.foreach { stmt =>
      if (!failed) {
        try runStatement(eng, stmt, out, describe = true)
        catch { case e: Exception => error(out, e); failed = true }
      }
    }
  }

  private def runStatement(eng: XtSqlEngine, stmt: String,
      out: DataOutputStream, describe: Boolean): Unit = {
    val df = eng.sql(stmt)
    if (isResultSet(stmt)) {
      if (describe) rowDescription(out, df.schema)
      // partition-at-a-time streaming (same shape as the extended
      // protocol's portal path): `psql -c "SELECT * FROM big"` must not
      // materialize the whole result on the driver — Spark pulls one
      // partition per fetch round and rows go straight to the socket
      val it = df.toLocalIterator()
      var n = 0L
      while (it.hasNext) {
        dataRow(out, it.next(), df.schema)
        n += 1
      }
      msg(out, 'C')(w => cstr(w, s"SELECT $n"))
    } else {
      // DML/session statements: the engine already executed them eagerly;
      // emit only the command tag (pg clients expect no result set)
      msg(out, 'C')(w => cstr(w, commandTag(stmt)))
    }
  }

  // ---- COPY FROM STDIN subprotocol (reference pgwire.clj:1301-1321:
  // wire COPY accepts arrow-file / arrow-stream / transit-json encodings;
  // here json-lines stands in for transit-json — same line-delimited doc
  // maps, without the transit tag layer — plus csv for pg compatibility).

  private def isCopyFromStdin(stmt: String): Boolean = {
    val toks = SqlLexer.tokenize(stmt)
    toks.headOption.exists(_.is("COPY")) && toks.exists(_.is("STDIN"))
  }

  /** Run the CopyInResponse/CopyData/CopyDone exchange and ingest the
    * payload. The socket is the driver-side funnel every wire COPY has;
    * decode hands rows straight to the distributed put path. */
  private def copyInWire(stmt: String, in: DataInputStream,
      out: DataOutputStream): Unit = {
    val toks = SqlLexer.tokenize(stmt)
    require(toks.length >= 2, "COPY: missing table name")
    val table = toks(1).text.toLowerCase
    // WITH (FORMAT 'x') / WITH FORMAT 'x': value is the token after FORMAT
    val fmt = toks.zipWithIndex.collectFirst {
      case (t, i) if t.is("FORMAT") && i + 1 < toks.length =>
        stripQuotes(toks(i + 1).text).toLowerCase
    }.getOrElse("json")
    msg(out, 'G') { w => w.writeByte(0); w.writeShort(0) } // CopyInResponse
    out.flush()
    val buf = new java.io.ByteArrayOutputStream()
    var done = false
    var failed: Option[String] = None
    while (!done) {
      val t = in.read()
      if (t < 0) throw new EOFException("connection closed mid-COPY")
      val len = in.readInt()
      val payload = new Array[Byte](len - 4)
      in.readFully(payload)
      t.toChar match {
        case 'd' => buf.write(payload) // CopyData
        case 'c' => done = true // CopyDone
        case 'f' => // CopyFail
          failed = Some(new Reader(payload).cstr()); done = true
        case 'H' | 'S' => () // Flush/Sync mid-copy: ignore
        case other => throw new IllegalStateException(
          s"unexpected message '$other' during COPY")
      }
    }
    failed match {
      case Some(reason) =>
        errorMsg(out, "57014", s"COPY cancelled by client: $reason")
      case None =>
        val bytes = buf.toByteArray
        val docs: DataFrame = fmt match {
          case "json" | "jsonl" | "transit-json" =>
            import spark.implicits._
            val lines = new String(bytes, UTF_8).split('\n')
              .map(_.trim).filter(_.nonEmpty).toSeq
            spark.read.json(spark.createDataset(lines))
          case "csv" =>
            import spark.implicits._
            val lines = new String(bytes, UTF_8).split('\n')
              .map(_.stripSuffix("\r")).filter(_.nonEmpty).toSeq
            spark.read.option("header", "true").option("inferSchema", "true")
              .csv(spark.createDataset(lines))
          case "arrow-file" | "arrow" =>
            graft.sources.ArrowSource.readBytes(spark, bytes,
              streaming = false)
          case "arrow-stream" =>
            graft.sources.ArrowSource.readBytes(spark, bytes,
              streaming = true)
          case other => throw new IllegalArgumentException(
            s"COPY format not supported over the wire: $other " +
              "(json | csv | arrow-file | arrow-stream)")
        }
        val (_, n) = db.commit(Seq(TxOp.Put(table, docs)))
        msg(out, 'C')(w => cstr(w, s"COPY ${n()}"))
    }
  }

  private def stripQuotes(s: String): String =
    if (s.length >= 2 && s.head == '\'' && s.last == '\'')
      s.substring(1, s.length - 1)
    else s

  /** Statements that produce a client-visible result set. */
  private def isResultSet(stmt: String): Boolean = {
    val toks = SqlLexer.tokenize(stmt)
    toks.headOption.map(_.upper) match {
      case Some("SELECT" | "WITH" | "VALUES" | "TABLE" | "SHOW" |
                "EXPLAIN" | "EXECUTE" | "FROM") => true
      case Some("SETTING") => true // SETTING DEFAULT ... SELECT
      case _ => toks.exists(_.is("RETURNING"))
    }
  }

  private def commandTag(stmt: String): String =
    SqlLexer.tokenize(stmt).headOption.map(_.upper).getOrElse("OK") match {
      case "INSERT" => "INSERT 0 1"
      case kw => kw
    }

  /** Lexer-safe `;` split (same policy as XtSqlEngine.sqlScript). */
  private def splitScript(text: String): Seq[String] = {
    val toks = SqlLexer.tokenize(text)
    val stmts = scala.collection.mutable.Buffer[String]()
    var start = 0
    toks.foreach { t =>
      if (t.isPunct(";")) {
        val s = text.substring(start, t.start).trim
        if (s.nonEmpty) stmts += s
        start = t.end
      }
    }
    val tail = text.substring(start).trim
    if (tail.nonEmpty) stmts += tail
    stmts.toSeq
  }

  /** `$n` placeholder spans — lexer-based (Punct "$" immediately followed
    * by a Num), so a `$1` inside a string literal is never a parameter. */
  private def placeholderSpans(text: String): Vector[(Int, Int, Int)] = {
    val toks = SqlLexer.tokenize(text)
    toks.zip(toks.drop(1)).collect {
      case (d, n) if d.isPunct("$") && n.kind == Tok.Num &&
        n.start == d.end && !n.text.contains('.') =>
        (d.start, n.end, n.text.toInt)
    }.toVector
  }

  /** Splice text-format params into their `$n` spans. Numerics go in bare,
    * everything else as an escaped string literal — the engine's
    * expression layer casts from there (matches text-format semantics). */
  private def bindPlaceholders(text: String, params: Seq[String]): String = {
    val spans = placeholderSpans(text)
    if (spans.isEmpty) text
    else SqlLexer.splice(text, spans.map { case (s, e, idx) =>
      require(idx >= 1 && idx <= params.length,
        s"parameter $$$idx out of range (${params.length} bound)")
      val v = params(idx - 1)
      val lit =
        if (v == null) "NULL"
        else if (v.matches("[+-]?\\d+(\\.\\d+)?([eE][+-]?\\d+)?")) v
        else "'" + v.replace("'", "''") + "'"
      (s, e, s"($lit)")
    })
  }

  /** For Describe on an unbound statement: neutralize `$n` so the schema
    * can be derived (NULL has the right shape for a describe). */
  private def stripBind(text: String): String = {
    val spans = placeholderSpans(text)
    if (spans.isEmpty) text
    else SqlLexer.splice(text, spans.map { case (s, e, _) => (s, e, "NULL") })
  }

  /** Run state of a partially-executed result-set portal (Execute with
    * maxRows > 0 that did not exhaust the cursor → PortalSuspended, the
    * extended-protocol flow a JDBC driver with `setFetchSize` uses).
    * `it` is Spark's toLocalIterator: partitions stream to the driver
    * one at a time as the client fetches, so a suspended portal holds a
    * bounded buffer, not the whole relation. Portal lifetime matches
    * Postgres: inside an explicit BEGIN a suspended portal survives Sync
    * (ReadyForQuery reports 'T' — the flow a JDBC fetch-size cursor
    * drives); in autocommit, Sync ends the implicit transaction and
    * destroys every portal, so a later Execute gets "unknown portal"
    * exactly as libpq expects. */
  private final class PortalRun(
      val schema: StructType,
      val it: java.util.Iterator[org.apache.spark.sql.Row],
      var sent: Long = 0L)

  // ---- wire encoding ------------------------------------------------------

  private final class Reader(buf: Array[Byte]) {
    private var pos = 0
    def remaining: Int = buf.length - pos
    def byte(): Byte = { val b = buf(pos); pos += 1; b }
    def i16(): Int = { val v = ((buf(pos) & 0xff) << 8) | (buf(pos + 1) & 0xff); pos += 2; v }
    def i32(): Int = {
      val v = ((buf(pos) & 0xff) << 24) | ((buf(pos + 1) & 0xff) << 16) |
        ((buf(pos + 2) & 0xff) << 8) | (buf(pos + 3) & 0xff)
      pos += 4; v
    }
    def bytes(n: Int): Array[Byte] = {
      val a = java.util.Arrays.copyOfRange(buf, pos, pos + n); pos += n; a
    }
    def cstr(): String = {
      val s = pos
      while (pos < buf.length && buf(pos) != 0) pos += 1
      val str = new String(buf, s, pos - s, UTF_8)
      pos += 1 // NUL
      str
    }
  }

  private def msg(out: DataOutputStream, t: Char)(
      body: DataOutputStream => Unit): Unit = {
    val bos = new java.io.ByteArrayOutputStream()
    val w = new DataOutputStream(bos)
    body(w); w.flush()
    out.writeByte(t)
    out.writeInt(4 + bos.size())
    bos.writeTo(out)
  }

  private def cstr(w: DataOutputStream, s: String): Unit = {
    w.write(s.getBytes(UTF_8)); w.writeByte(0)
  }

  /** ReadyForQuery with the live transaction status — 'T' inside an
    * explicit BEGIN, 'I' when idle (what JDBC keys its cursor flow on).
    * The startup-path overload reports 'I' (no session engine yet). */
  private def readyForQuery(out: DataOutputStream, eng: XtSqlEngine): Unit =
    msg(out, 'Z')(_.writeByte(if (eng.inTransaction) 'T' else 'I'))

  private def readyForQuery(out: DataOutputStream): Unit =
    msg(out, 'Z')(_.writeByte('I'))

  private def error(out: DataOutputStream, e: Exception): Unit =
    errorMsg(out, "XX000",
      Option(e.getMessage).getOrElse(e.getClass.getSimpleName))

  private def errorMsg(out: DataOutputStream, code: String,
      message: String): Unit =
    msg(out, 'E') { w =>
      w.writeByte('S'); cstr(w, "ERROR")
      w.writeByte('C'); cstr(w, code)
      w.writeByte('M'); cstr(w, message)
      w.writeByte(0)
    }

  /** Spark type → Postgres type OID (pg_type.dat, public catalog). */
  private def pgOid(dt: DataType): Int = dt match {
    case BooleanType => 16
    case BinaryType => 17
    case LongType => 20
    case ShortType | ByteType => 21
    case IntegerType => 23
    case StringType => 25
    case FloatType => 700
    case DoubleType => 701
    case DateType => 1082
    case TimestampNTZType => 1114
    case TimestampType => 1184
    case _: DecimalType => 1700
    case _ => 25 // arrays/structs/maps render as text
  }

  /** Per-column result format from Bind's codes (pg semantics: empty =
    * all text, one code = applies to every column, else positional). */
  private def fmtFor(fmts: Seq[Int], i: Int): Int =
    if (fmts.isEmpty) 0
    else if (fmts.length == 1) fmts.head
    else fmts(i)

  /** PG requires Bind's result-format count be 0, 1, or the result column
    * count; the count is only checkable once the schema is known, so it's
    * validated here at first use (Describe/Execute) with a clear message
    * instead of an IndexOutOfBounds per row. */
  private def checkFmtCount(fmts: Seq[Int], nCols: Int): Unit =
    require(fmts.length <= 1 || fmts.length == nCols,
      s"bind: ${fmts.length} result format codes for $nCols result " +
        "columns (must be 0, 1, or the column count)")

  private def rowDescription(out: DataOutputStream, schema: StructType,
      fmts: Seq[Int] = Nil): Unit =
    msg(out, 'T') { w =>
      checkFmtCount(fmts, schema.fields.length)
      w.writeShort(schema.fields.length)
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        cstr(w, f.name)
        w.writeInt(0); w.writeShort(0) // table oid / attnum: not a base col
        w.writeInt(pgOid(f.dataType))
        w.writeShort(-1); w.writeInt(-1) // typlen / typmod
        w.writeShort(fmtFor(fmts, i))
      }
    }

  private def dataRow(out: DataOutputStream,
      row: org.apache.spark.sql.Row, schema: StructType,
      fmts: Seq[Int] = Nil): Unit =
    msg(out, 'D') { w =>
      checkFmtCount(fmts, schema.fields.length)
      w.writeShort(schema.fields.length)
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        if (row.isNullAt(i)) w.writeInt(-1)
        else {
          val bytes =
            if (fmtFor(fmts, i) == 1) renderBinary(row.get(i), f.dataType)
            else render(row.get(i), f.dataType).getBytes(UTF_8)
          w.writeInt(bytes.length); w.write(bytes)
        }
      }
    }

  // PG binary-format epochs: 2000-01-01 as epoch-days / epoch-micros
  private val PgEpochDays = 10957L
  private val PgEpochMicros = 946684800000000L

  /** Binary-format rendering (PostgreSQL binary wire conventions, network
    * byte order — src/backend/utils/adt per-type send functions, public
    * documentation). Types with no defined/row-typed binary form here
    * (arrays/structs travel as text OID 25) fall back to the text bytes,
    * which is exactly what their RowDescription OID advertises. */
  /** Decode a binary-format Bind parameter into the text form
    * [[bindPlaceholders]] splices — the receive-side inverse of
    * [[renderBinary]], covering exactly the OIDs this server encodes
    * (bool, bytea, int2/4/8, float4/8, text/varchar, date,
    * timestamp/timestamptz, numeric). Unknown OIDs refuse loudly: guessing
    * an encoding would corrupt the statement silently. */
  private def decodeBinaryParam(b: Array[Byte], oid: Int, idx: Int): String = {
    val bb = java.nio.ByteBuffer.wrap(b) // big-endian by default
    def need(n: Int): Unit = require(b.length == n,
      s"binary parameter $$${idx}: oid $oid expects $n bytes, got ${b.length}")
    oid match {
      case 16 => need(1); if (b(0) != 0) "t" else "f"
      case 17 => "\\x" + b.map("%02x".format(_)).mkString
      case 21 => need(2); bb.getShort.toString
      case 23 => need(4); bb.getInt.toString
      case 20 => need(8); bb.getLong.toString
      case 700 => need(4); bb.getFloat.toString
      case 701 => need(8); bb.getDouble.toString
      case 25 | 1043 => new String(b, UTF_8)
      case 1082 => // days since 2000-01-01
        need(4)
        java.time.LocalDate.ofEpochDay(bb.getInt.toLong + PgEpochDays).toString
      case 1114 | 1184 => // micros since 2000-01-01 (1184: instant, UTC)
        need(8)
        val micros1970 = bb.getLong + PgEpochMicros
        val inst = java.time.Instant.ofEpochSecond(
          Math.floorDiv(micros1970, 1000000L),
          Math.floorMod(micros1970, 1000000L) * 1000L)
        val rendered = java.time.LocalDateTime
          .ofInstant(inst, java.time.ZoneOffset.UTC)
          .format(java.time.format.DateTimeFormatter
            .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS"))
        // 1184 is an absolute instant: splice it WITH an explicit offset, or
        // the engine's later cast would re-interpret the zone-less literal
        // in the SESSION timezone (SET TIME ZONE is supported) and shift
        // it. 1114 is zone-less by definition and stays bare.
        if (oid == 1184) rendered + "+00:00" else rendered
      case 1700 => // base-10000 numeric: ndigits, weight, sign, dscale, digits
        require(b.length >= 8,
          s"binary parameter $$${idx}: numeric header needs 8 bytes")
        val nd = bb.getShort.toInt; val weight = bb.getShort.toInt
        val sign = bb.getShort & 0xffff; val dscale = bb.getShort.toInt
        require(sign == 0x0000 || sign == 0x4000,
          s"binary parameter $$${idx}: unsupported numeric sign 0x${sign.toHexString}")
        require(b.length == 8 + 2 * nd,
          s"binary parameter $$${idx}: numeric with $nd digit groups " +
            s"expects ${8 + 2 * nd} bytes, got ${b.length}")
        // digit groups are one base-10000 integer; the first group sits at
        // base-10000 exponent `weight`, so value = D * 10^(4*(weight-nd+1))
        var intAcc = java.math.BigInteger.ZERO
        val B = java.math.BigInteger.valueOf(10000)
        (0 until nd).foreach { _ =>
          intAcc = intAcc.multiply(B)
            .add(java.math.BigInteger.valueOf(bb.getShort.toLong))
        }
        val exp10 = 4 * (weight - nd + 1)
        var dec = new java.math.BigDecimal(intAcc)
        dec = if (exp10 >= 0) dec.movePointRight(exp10)
              else dec.movePointLeft(-exp10)
        dec = dec.setScale(dscale) // throws on malformed (lossy) input
        if (sign == 0x4000) dec = dec.negate()
        dec.toPlainString
      case other => sys.error(
        s"binary parameter $$${idx}: unsupported type oid $other; bind text")
    }
  }

  private def renderBinary(v: Any, dt: DataType): Array[Byte] = {
    def be(n: Int)(fill: java.nio.ByteBuffer => Unit): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(n)
      fill(bb); bb.array()
    }
    (v, dt) match {
      case (b: Boolean, _) => Array[Byte](if (b) 1 else 0)
      case (x: Byte, _) => be(2)(_.putShort(x.toShort))
      case (x: Short, _) => be(2)(_.putShort(x))
      case (x: Int, _) => be(4)(_.putInt(x))
      case (x: Long, _) => be(8)(_.putLong(x))
      case (x: Float, _) => be(4)(_.putFloat(x))
      case (x: Double, _) => be(8)(_.putDouble(x))
      case (bytes: Array[Byte], BinaryType) => bytes
      case (d: java.sql.Date, _) =>
        be(4)(_.putInt((d.toLocalDate.toEpochDay - PgEpochDays).toInt))
      case (d: java.time.LocalDate, _) =>
        be(4)(_.putInt((d.toEpochDay - PgEpochDays).toInt))
      case (t: java.sql.Timestamp, _) =>
        val micros1970 = Math.floorDiv(t.getTime, 1000L) * 1000000L +
          t.getNanos / 1000L
        be(8)(_.putLong(micros1970 - PgEpochMicros))
      case (t: java.time.LocalDateTime, _) =>
        val inst = t.toInstant(java.time.ZoneOffset.UTC)
        val micros1970 = inst.getEpochSecond * 1000000L +
          inst.getNano / 1000L
        be(8)(_.putLong(micros1970 - PgEpochMicros))
      case (t: java.time.Instant, _) =>
        val micros1970 = t.getEpochSecond * 1000000L + t.getNano / 1000L
        be(8)(_.putLong(micros1970 - PgEpochMicros))
      case (dec: java.math.BigDecimal, _) => pgNumericBinary(dec)
      case (s, StringType) => String.valueOf(s).getBytes(UTF_8)
      case (other, odt) => render(other, odt).getBytes(UTF_8)
    }
  }

  /** PostgreSQL `numeric` binary send format: ndigits, weight (base-10000
    * exponent of the first digit group), sign (0x0000/0x4000), dscale,
    * then the base-10000 digit groups, all int16 big-endian. */
  private def pgNumericBinary(dec: java.math.BigDecimal): Array[Byte] = {
    val sign = if (dec.signum() < 0) 0x4000 else 0x0000
    val dscale = math.max(0, dec.scale())
    val abs = dec.abs()
    // integer of abs * 10^dscale, padded so the fraction fills whole
    // 4-decimal-digit groups
    val fracGroups = (dscale + 3) / 4
    val pad = fracGroups * 4 - dscale
    val padded = abs.movePointRight(dscale).toBigIntegerExact
      .multiply(java.math.BigInteger.TEN.pow(pad))
    var digits = List.empty[Int]
    var x = padded
    val B = java.math.BigInteger.valueOf(10000)
    while (x.signum() > 0) {
      val Array(q, r) = x.divideAndRemainder(B)
      digits = r.intValue() :: digits
      x = q
    }
    val weight = digits.length - fracGroups - 1
    val trimmed = digits.reverse.dropWhile(_ == 0).reverse
    val bb = java.nio.ByteBuffer.allocate(8 + 2 * trimmed.length)
    bb.putShort(trimmed.length.toShort)
    bb.putShort((if (trimmed.isEmpty) 0 else weight).toShort)
    bb.putShort(sign.toShort)
    bb.putShort(dscale.toShort)
    trimmed.foreach(d => bb.putShort(d.toShort))
    bb.array()
  }

  /** Text-format rendering (pg output conventions). */
  private def render(v: Any, dt: DataType): String = (v, dt) match {
    case (b: Boolean, _) => if (b) "t" else "f"
    case (t: java.sql.Timestamp, _) =>
      val s = t.toString // yyyy-mm-dd hh:mm:ss[.f…]
      if (s.endsWith(".0")) s.dropRight(2) else s
    case (bytes: Array[Byte], BinaryType) =>
      "\\x" + bytes.map("%02x".format(_)).mkString
    case (seq: scala.collection.Seq[_], ArrayType(et, _)) =>
      seq.map(x => if (x == null) "NULL" else render(x, et))
        .mkString("{", ",", "}")
    case (other, _) => String.valueOf(other)
  }
}
