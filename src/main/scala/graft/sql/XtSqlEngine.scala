package graft.sql

import graft.bitemporal.{Bitemporal, TxOp, TxSnapshot, XtDb}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Executes parsed XT-dialect statements against an XtDb store
  * (reference: the SQL planner core/src/main/clojure/xtdb/sql.clj routes
  * query texts to the RA engine and DML texts to tx-ops,
  * query.clj:478-495).
  *
  * Queries: temporal table refs become temp views over
  * `Bitemporal.resolve` snapshots and the rest of the text is handed to
  * Spark's parser/Catalyst verbatim — predicate pushdown, join planning,
  * AQE all apply to the resolved views. Store tables, attached-store refs,
  * the system tables and the pg_catalog views are registered per
  * statement, and only those the statement's text names: a point read
  * builds one view and runs no job before it executes.
  *
  * DML: every statement maps to a `TxOp` and runs through `submitTx`, so
  * a multi-statement transaction (`submitTxSql`) is atomic with one
  * system time, and later statements see earlier staged effects.
  *
  * The session must carry [[graft.GraftExtensions]] (every
  * `graft.GraftSession` session does): the parser's rewrite targets —
  * period predicates, JSON access, `generate_series` — live there.
  */
class XtSqlEngine(spark: SparkSession, db: XtDb,
    clock: Option[java.sql.Timestamp] = None,
    principal: Option[String] = None) {

  import XtSqlParser._
  import XtSqlParser.XtStatement._

  /** Engine with a frozen query clock (reference basis `:current-time`,
    * query.clj:142-164): every unpinned temporal reference resolves
    * "now" to this instant, so the same query text is reproducible. */
  def withClock(at: java.sql.Timestamp): XtSqlEngine =
    new XtSqlEngine(spark, db, Some(at), principal)

  /** Engine authenticated as `user` (reference pgwire connection
    * principal). An embedded engine with no principal is the in-process
    * superuser, like the reference's in-process connection. */
  def withPrincipal(user: String): XtSqlEngine =
    new XtSqlEngine(spark, db, clock, Some(user))

  /** GRANT/REVOKE requires the superuser principal (reference
    * pgwire.authz: role membership is managed by `xtdb` only). */
  private def isSuperuser: Boolean = principal.forall(_ == "xtdb")

  /** System schemas are read-only for DML (reference forbidden-schemas
    * guard: "Cannot write to table xt.role_membership"). */
  private def forbiddenWrite(table: String): Boolean =
    table.startsWith("xt_") || table.startsWith("pg_") ||
      table.startsWith("information_schema")

  // ---- session state (Sql.g4:37-54 session statements) --------------------
  // Interactive transaction: DML between BEGIN and COMMIT stages TxOps and
  // submits them atomically with one system time at COMMIT (the SQL-text
  // face of submitTx's op vector, api.clj:258-339). Reads inside an open
  // transaction see the pre-transaction snapshot — staged writes become
  // visible atomically at COMMIT, like the reference's log-deferred DML.
  private var openTx: Option[scala.collection.mutable.Buffer[TxOp]] = None

  /** Whether an explicit BEGIN is open — pgwire's ReadyForQuery reports
    * 'T' (in transaction) vs 'I' (idle) from this, which is what a JDBC
    * driver keys its fetch-size cursor flow on. */
  def inTransaction: Boolean = openTx.isDefined
  // monotone count of transaction ENDS (COMMIT or ROLLBACK) — the wire
  // layer compares it around a message to destroy the ended transaction's
  // portals even when a script re-opens one ('COMMIT; BEGIN')
  private var txEnds = 0L
  def txEpoch: Long = txEnds
  private var txReadOnly: Boolean = false
  private var txSystemTime: Option[java.sql.Timestamp] = None
  private val sessionVars = scala.collection.mutable.Map.empty[String, String]
  private val preparedStmts = scala.collection.mutable.Map.empty[String, String]
  // Attached databases (ATTACH DATABASE, Sql.g4:55): read-side multi-db —
  // qualified refs `name[.public].table` resolve against the attached
  // store, temporal clauses included; DML targets the primary only
  // (reference: attach forbidden mid-tx, writes go to the connected db).
  // "xtdb" is the reference's name for the primary (pgwire.clj:1211-1228).
  private val attachedDbs = scala.collection.mutable.Map.empty[String, XtDb]
  private def dbNames: Set[String] = attachedDbs.keySet.toSet + "xtdb"
  private def dbFor(name: String): XtDb =
    if (name == "xtdb") db
    else attachedDbs.getOrElse(name,
      throw SqlParseException(s"no attached database: $name"))
  private val QualRef = "__db_([a-z0-9_]+?)__(.+)".r

  /** Execute one statement. SELECT/temporal queries return their result;
    * DML executes (its own single-op transaction) and returns a one-row
    * DataFrame with the assigned system time. `EXPLAIN [ANALYZE] <query>`
    * returns the plan/metrics report, one line per row (reference
    * query.clj:230-277). */
  def sql(text: String): DataFrame = {
    val toks = SqlLexer.tokenize(text)
    if (toks.nonEmpty && toks.head.is("EXPLAIN")) {
      val analyze = toks.length > 1 && toks(1).is("ANALYZE")
      val rest = text.substring(toks(if (analyze) 2 else 1).start)
      val df = runQuery(parseQuery(rest, dbNames), db.snapshotToken())
      val rep = if (analyze) graft.plans.Explain.analyze(df)
        else graft.plans.Explain.report(df)
      import spark.implicits._
      rep.render.split("\n").toSeq.toDF("plan")
    } else parse(text, dbNames) match {
      case Query(pq) => runQuery(pq, db.snapshotToken())
      case CreateTable(table, ddl, layout) =>
        db.createTable(table, ddl)
        // the WITH (layout_key, layout_buckets) clause — the SQL face of
        // XtDb.declareLayout: write-time storage organization, transparent
        // to readers (reference compactor layout). The table is empty, so
        // materialization waits for data (auto-compaction or the first
        // explicit compact).
        layout.foreach { case (k, b) => db.declareLayout(table, k, b) }
        txInfo(db.snapshotToken())
      case DeclareLayout(table, key, buckets) =>
        db.declareLayout(table, key, buckets)
        // compact immediately so the bucketed snapshot + iid-bucketed log
        // materialize now, not at the next write (no-op on an empty table)
        db.compact(table)
        statusDf("status", s"DECLARE LAYOUT $table ($key, $buckets)")
      case DropLayout(table) =>
        db.dropLayout(table)
        statusDf("status", s"DROP LAYOUT $table")
      case GrantRevoke(grant, what, grantee) =>
        if (!isSuperuser) throw SqlParseException(
          s"GRANT/REVOKE requires the superuser principal " +
            s"(connected as ${principal.getOrElse("?")})")
        db.recordGrant(grant, what, grantee)
        txInfo(db.snapshotToken())
      case CopyOut(table, path, format) =>
        if (openTx.isDefined) throw SqlParseException(
          "COPY TO is not valid inside a transaction")
        // outbound COPY: the table's CURRENT snapshot (visible columns) as
        // a distributed write — the single-table face of exportSnapshot
        val fmt = format.getOrElse {
          if (path.toLowerCase.endsWith(".csv")) "csv" else "parquet"
        }
        val snap = currentAt(db.events(table), db.snapshotToken())
          .drop(Bitemporal.IID, Bitemporal.VF, Bitemporal.VT, Bitemporal.SF,
            Bitemporal.ST, Bitemporal.SEQ, Bitemporal.OP, Bitemporal.BUCKET)
        val writer = snap.write.mode("overwrite")
        (fmt match {
          case "csv" => writer.option("header", "true").format("csv")
          case other => writer.format(other)
        }).save(path)
        statusDf("status", s"COPY OUT $table")
      case Begin(readOnly, sysTime) =>
        if (openTx.isDefined)
          throw SqlParseException("transaction already open")
        openTx = Some(scala.collection.mutable.Buffer.empty)
        txReadOnly = readOnly
        txSystemTime = sysTime.map(e =>
          spark.sql(s"SELECT CAST($e AS TIMESTAMP)").head.getTimestamp(0))
        statusDf("status", "BEGIN")
      case Commit =>
        val ops = openTx.getOrElse(
          throw SqlParseException("COMMIT without an open transaction"))
        openTx = None
        txEnds += 1
        if (ops.isEmpty) statusDf("status", "COMMIT (empty)")
        else txInfo(db.submitTx(ops.toSeq, txSystemTime))
      case Rollback =>
        if (openTx.isEmpty)
          throw SqlParseException("ROLLBACK without an open transaction")
        openTx = None
        txEnds += 1
        statusDf("status", "ROLLBACK")
      case SetTimeZone(zoneExpr) =>
        val zone = stripStr(zoneExpr)
        spark.conf.set("spark.sql.session.timeZone", zone)
        sessionVars("timezone") = zone
        statusDf("status", "SET")
      case SetSessionVar(name, value) =>
        sessionVars(name) = stripStr(value)
        statusDf("status", "SET")
      case ShowVar(name) => name match {
        case "timezone" => statusDf("timezone",
          spark.conf.get("spark.sql.session.timeZone"))
        case "snapshot_token" =>
          statusDf("snapshot_token",
            clock.getOrElse(db.snapshotToken()).toString)
        case "clock_time" =>
          statusDf("clock_time", clock.getOrElse(
            new java.sql.Timestamp(System.currentTimeMillis())).toString)
        case "transaction_isolation" =>
          // single-writer log: every committed tx is serialized
          statusDf("transaction_isolation", "serializable")
        case other => statusDf(other, sessionVars.getOrElse(other,
          throw SqlParseException(s"unknown session variable: $other")))
      }
      case AttachDb(name, config) =>
        if (openTx.isDefined) throw SqlParseException(
          "cannot attach a database in a transaction")
        if (name == "xtdb" || attachedDbs.contains(name))
          throw SqlParseException(s"database already attached: $name")
        val path = config.flatMap { c =>
          "path\\s*[:=]\\s*(\\S+)".r.findFirstMatchIn(c).map(_.group(1))
        }.getOrElse(throw SqlParseException(
          "ATTACH DATABASE requires WITH 'path: <dir>'"))
        attachedDbs(name) = new XtDb(spark, path)
        statusDf("status", s"ATTACH $name")
      case DetachDb(name) =>
        if (!attachedDbs.contains(name))
          throw SqlParseException(s"no attached database: $name")
        attachedDbs.remove(name)
        statusDf("status", s"DETACH $name")
      case Prepare(name, stmt) =>
        preparedStmts(name) = stmt
        statusDf("status", "PREPARE")
      case ExecuteStmt(name, args) =>
        val stmt = preparedStmts.getOrElse(name,
          throw SqlParseException(s"no prepared statement: $name"))
        val bound = bindParams(stmt, args)
        parse(bound, dbNames) match {
          // Prepared queries reuse their analyzed plan (reference plan
          // cache, query.clj:305-328; prepared statements re-plan only on
          // basis change). The key carries everything the plan closes
          // over — bound text, snapshot token, frozen clock, session
          // timezone — so any committed transaction rotates the key and
          // the stale plan ages out of the LRU. Execution is a fresh
          // QueryExecution each time: the data path re-runs in full.
          case Query(pq) if openTx.isEmpty =>
            val token = db.snapshotToken()
            graft.PlanCache.prepared(spark,
              ("xtsql", bound, token.toString, clock,
                spark.conf.get("spark.sql.session.timeZone")))(
              runQuery(pq, token))
          case _ => sql(bound)
        }
      case WithReturning(dml, selectList) =>
        if (openTx.isDefined) throw SqlParseException(
          "RETURNING inside an open transaction is not supported")
        // Affected rows computed against the pre-commit snapshot and
        // materialized BEFORE submit (reference returningStatement,
        // Sql.g4:19-31: INSERT returns the inserted docs, UPDATE the new
        // versions, DELETE the removed rows)
        lazy val token = db.snapshotToken()
        val affected: DataFrame = dml match {
          case Insert(_, _) | CopyIn(_, _, _) => toTxOp(dml) match {
            case TxOp.Put(_, docs, _, _) => docs
            case other => throw SqlParseException(
              s"RETURNING unsupported for $other")
          }
          case Update(table, _, sets, where) =>
            val base: DataFrame = currentAt(db.events(table), token)
              .filter(where.map(expr).getOrElse(lit(true)))
            sets.foldLeft(base) {
              case (df, (c, e)) => df.withColumn(c, expr(e))
            }
          case Delete(table, _, where) =>
            currentAt(db.events(table), token)
              .filter(where.map(expr).getOrElse(lit(true)))
          case other => throw SqlParseException(
            s"RETURNING is not valid on ${other.getClass.getSimpleName}")
        }
        // hidden-column semantics as in runQuery: meta columns only
        // survive into RETURNING * if the list names them
        val retRef = SqlLexer.tokenize(selectList)
          .collect { case t if t.kind == Tok.Ident => t.text.toLowerCase }
          .toSet
        val dropRet = Seq(Bitemporal.IID, Bitemporal.VF, Bitemporal.VT,
          Bitemporal.SF, Bitemporal.ST).filterNot(retRef.contains)
        val out = bind(Seq("__returning_src" -> affected.drop(dropRet: _*)),
          s"SELECT $selectList FROM __returning_src")
        // Pin the RETURNING projection pre-commit WITHOUT driver memory:
        // stage it to a temp parquet path (the tx-staging pattern) and
        // return a scan of the staged copy — a 10^9-row UPDATE..RETURNING
        // streams through executors; the driver never holds the rows.
        val staged = java.nio.file.Files
          .createTempDirectory("graft_returning").toString + "/out"
        out.write.parquet(staged)
        db.submitTx(Seq(toTxOp(dml)))
        spark.read.parquet(staged)
      case dml =>
        openTx match {
          case Some(buf) =>
            if (txReadOnly) throw SqlParseException(
              "DML inside a READ ONLY transaction")
            buf += toTxOp(dml)
            statusDf("status", s"staged (${buf.length} ops)")
          case None =>
            txInfo(db.submitTx(Seq(toTxOp(dml))))
        }
    }
  }

  /** DML-only execution returning the affected event-row count from the
    * transaction itself (the staged tx delta — never a second run of the
    * DML's plan). Queries are rejected: their result is a relation, not a
    * count, and belongs on the query path (ADBC `executeQuery`). Inside
    * an open BEGIN the op is only staged, so the count is 0 until COMMIT. */
  def sqlUpdate(text: String): Long = parse(text, dbNames) match {
    case Query(_) => throw SqlParseException(
      "executeUpdate requires a DML statement; use executeQuery for queries")
    case _: Insert | _: Update | _: Delete | _: Erase | _: Patch |
         _: CopyIn | _: WithReturning =>
      sql(text)
      if (openTx.isDefined) 0L else db.lastTxAffectedRows
    case other => throw SqlParseException(
      s"executeUpdate requires a DML statement, got " +
        other.getClass.getSimpleName.stripSuffix("$"))
  }

  private def statusDf(colName: String, value: String): DataFrame = {
    import spark.implicits._
    Seq(value).toDF(colName)
  }

  /** A bare string literal drops its quotes ('' unescapes); anything else
    * is kept verbatim. */
  private def stripStr(e: String): String = {
    val t = e.trim
    if (t.length >= 2 && t.head == '\'' && t.last == '\'')
      t.substring(1, t.length - 1).replace("''", "'")
    else t
  }

  /** Positional binding for EXECUTE: the i-th `?` param token is replaced
    * with the i-th argument text (lexer-based, so `?` inside literals is
    * never touched). */
  private def bindParams(stmt: String, args: Seq[String]): String = {
    val params = SqlLexer.tokenize(stmt).filter(_.kind == Tok.Param)
    if (params.length != args.length)
      throw SqlParseException(
        s"EXECUTE: ${params.length} parameters, ${args.length} arguments")
    if (params.isEmpty) stmt
    else SqlLexer.splice(stmt,
      params.zip(args).map { case (p, a) => (p.start, p.end, s"($a)") })
  }

  /** Atomic multi-statement transaction (reference submit-tx with SQL op
    * vector, api.clj:258-339). */
  def submitTxSql(stmts: Seq[String],
      systemTime: Option[java.sql.Timestamp] = None): java.sql.Timestamp =
    db.submitTx(stmts.map(s => toTxOp(parse(s, dbNames))), systemTime)

  /** Execute a `;`-separated script (psql-style). Statements run in order,
    * each as its own transaction; the last statement's result is returned.
    * Splitting is lexer-based, so `;` inside string literals is safe. */
  def sqlScript(script: String): DataFrame = {
    val toks = SqlLexer.tokenize(script)
    val stmts = scala.collection.mutable.Buffer[String]()
    var start = 0
    toks.foreach { t =>
      if (t.isPunct(";")) {
        val s = script.substring(start, t.start).trim
        if (s.nonEmpty) stmts += s
        start = t.end
      }
    }
    val tail = script.substring(start).trim
    if (tail.nonEmpty) stmts += tail
    require(stmts.nonEmpty, "empty script")
    stmts.map(sql).last
  }

  private def txInfo(ts: java.sql.Timestamp): DataFrame = {
    import spark.implicits._
    Seq(ts).toDF("system_time")
  }

  // ---- queries ------------------------------------------------------------

  /** System time "now" at a statement's basis `token` (the store's
    * committed head): capped at the wall clock, so a commit stamped in the
    * future (a system-time override) stays invisible until then, and never
    * past the token, so a transaction still in flight stays invisible. */
  private def atBasis(token: java.sql.Timestamp): Column =
    least(lit(token), current_timestamp())

  /** A table's current rows at the statement's basis (valid time now). */
  private def currentAt(events: DataFrame,
      token: java.sql.Timestamp): DataFrame = {
    val at = atBasis(token)
    Bitemporal.asOf(events, current_timestamp(), at, at)
  }

  /** `systemAt` is the statement's token on the system dimension of the
    * primary store, None elsewhere (valid time, attached stores): there
    * an unpinned reference resolves to now. A frozen clock pins both. */
  private def toSpec(ast: SpecAst,
      systemAt: Option[java.sql.Timestamp]): Bitemporal.TemporalSpec =
    ast match {
      case SpecAst.Current => (clock, systemAt) match {
        case (Some(t), _) => Bitemporal.TemporalSpec.AsOf(lit(t))
        case (None, Some(token)) =>
          Bitemporal.TemporalSpec.AsOf(atBasis(token))
        case (None, None) => Bitemporal.TemporalSpec.Current
      }
      case SpecAst.All => Bitemporal.TemporalSpec.All
      case SpecAst.AsOf(ts) =>
        Bitemporal.TemporalSpec.AsOf(expr(ts).cast("timestamp"))
      case SpecAst.Range(f, t, incl) =>
        Bitemporal.TemporalSpec.Range(expr(f).cast("timestamp"),
          expr(t).cast("timestamp"), incl)
    }

  /** Register `views` (and `snapshot_token()` when `token` is given) and
    * analyze `text` as one step. Every engine on this Spark session — each
    * pgwire connection, the in-process client — registers views of the
    * same names in the session's one catalog, so the step holds the
    * session's bind lock for its few ms. Analysis is eager: the Dataset
    * returned stays bound to these views, and it executes outside the
    * lock. Callers build every DataFrame before calling, and nothing
    * under the lock takes the store's monitor: an ASSERT binds while its
    * commit holds that monitor. */
  private def bind(views: Seq[(String, DataFrame)], text: String,
      token: Option[String] = None): DataFrame =
    XtSqlEngine.bindLock(spark).synchronized {
      views.foreach { case (name, df) => df.createOrReplaceTempView(name) }
      token.foreach { tok =>
        import org.apache.spark.sql.GraftColumnBridge.toExpression
        spark.sessionState.functionRegistry.createOrReplaceTempFunction(
          "snapshot_token", _ => toExpression(lit(tok)), "scala_udf")
      }
      spark.sql(text)
    }

  /** Run a query at the basis `token` — one `snapshotToken()` per
    * statement, taken by the caller before any lock. Every unpinned
    * system-time reference to the primary store resolves at the token, so
    * the statement reads one committed state however many tables it
    * joins, and a transaction committing meanwhile stays invisible to it.
    * Valid time resolves to now; a frozen clock pins both dimensions. */
  private def runQuery(pq: ParsedQuery,
      token: java.sql.Timestamp): DataFrame = {
    // snapshot_token() (reference temporal.clj:1783-1790): the query's
    // basis token as a string — constant within the query, so it plans as
    // a literal
    val tok = clock.getOrElse(token).toString
    // Reference semantics: _iid/_valid_*/_system_* are hidden columns —
    // `SELECT *` does not expand them, but naming one selects it
    // (as_of_test.clj scans request temporal columns explicitly). Spark
    // temp views have no hidden-column notion, so keep exactly the meta
    // columns the query text references (lexer Ident tokens — names inside
    // string literals don't count) and drop the rest before registration.
    val metaCols =
      Seq(Bitemporal.IID, Bitemporal.VF, Bitemporal.VT, Bitemporal.SF,
        Bitemporal.ST)
    val referenced = SqlLexer.tokenize(pq.text)
      .collect { case t if t.kind == Tok.Ident => t.text.toLowerCase }.toSet
    val dropMeta = metaCols.filterNot(referenced.contains)
    // `_valid_time` / `_system_time` are hidden PERIOD columns derived
    // from the from/to pairs (reference Sql.g4 periodSpecs; expr_test
    // variadic-overlaps queries them directly) — synthesized only when
    // the query names them, before the unreferenced endpoints drop
    val periodCols = Seq(
      ("_valid_time", Bitemporal.VF, Bitemporal.VT),
      ("_system_time", Bitemporal.SF, Bitemporal.ST))
    def visible(df: DataFrame): DataFrame =
      periodCols.foldLeft(df) { case (d, (name, fc, tc)) =>
        if (referenced.contains(name))
          d.withColumn(name,
            graft.functions.Periods.period(col(fc), col(tc)))
        else d
      }.drop(dropMeta: _*)
    def resolveAt(d: XtDb, t: String, valid: SpecAst,
        system: SpecAst): DataFrame =
      visible(Bitemporal.resolve(d.events(t), toSpec(valid, None),
        toSpec(system, if (d eq db) Some(token) else None),
        if (d eq db) atBasis(token) else current_timestamp()))
    // each temporal ref becomes its own view, spliced into the text
    val refViews = pq.refs.zipWithIndex.map { case (r, i) =>
      // a temporal clause on a qualified ref resolves against the
      // attached store the parser folded into the name
      val (d, t) = r.table match {
        case QualRef(dbName, tbl) => (dbFor(dbName), tbl)
        case t => (db, t)
      }
      (r, s"__xt_${r.table}_$i" -> resolveAt(d, t, r.valid, r.system))
    }
    val text = SqlLexer.splice(pq.text, refViews.map { case (r, (view, _)) =>
      (r.start, r.end, view)
    })
    // Session relations are built per statement, and only the ones the
    // text Spark will parse names: a relation is registered when its
    // lowercased name is an identifier-shaped word of that text. That is a
    // superset of what Spark will resolve — quoted identifiers count, and a
    // word inside a literal costs one unused registration. Nothing else is
    // built, so a point read pays neither for the catalogs nor for unnamed
    // tables, and a temporal ref only for its own view.
    val words = XtSqlEngine.Word
      .findAllIn(text.toLowerCase(java.util.Locale.ROOT)).toSet
    def atDefault(d: XtDb, t: String): DataFrame =
      resolveAt(d, t, pq.defaultValid, pq.defaultSystem)
    val tables = db.tables
    // A query at the plain current point (no temporal clause, no frozen
    // clock) reads a table's bucketed current snapshot when one is valid
    // at the token — the declared-layout zero-exchange join path
    // (XtDb.declareLayout); anything temporal resolves live from the
    // event log.
    val atCurrent = pq.defaultValid == SpecAst.Current &&
      pq.defaultSystem == SpecAst.Current && clock.isEmpty
    val storeTables = tables.map { t =>
      t -> (() =>
        (if (atCurrent) db.currentSnapshotIfValid(t, token) else None)
          .map(visible).getOrElse(atDefault(db, t)))
    }
    // attached databases: the parser folded every qualified ref to
    // __db_<name>__<table>, resolved under the default specs (xtdb.t
    // aliases the primary); other stores are listed only when one is named
    val qualified =
      if (!words.exists(_.startsWith("__db_"))) Nil
      else (attachedDbs.toSeq :+ ("xtdb" -> db)).flatMap { case (name, d) =>
        (if (d eq db) tables else d.tables).map(t =>
          s"__db_${name}__$t" -> (() => atDefault(d, t)))
      }
    // role membership (reference xt.role_membership + pg_auth_members): a
    // tiny driver-side catalog read, shared by the views that show it
    lazy val membership: Seq[(String, String)] =
      db.roleGrants.select("what", "grantee").collect().toSeq
        .map(r => (r.getString(0), r.getString(1)))
    lazy val schemas = tables.map(t => t -> db.events(t).schema)
    // system tables (reference xt.txs / information_schema; dots are not
    // legal in Spark temp-view names, so the xt/info schemas flatten to _);
    // pg_catalog views under bare names (the reference puts pg_catalog on
    // the default search path, information_schema.clj:204) — BI tools
    // schema-sync against these over the JDBC front door
    val system: Seq[(String, () => DataFrame)] = Seq(
      "xt_txs" -> (() => db.txs),
      // live engine counters (reference monitoring module)
      "xt_metrics" -> (() =>
        graft.tools.EngineMetrics.snapshot(spark, Some(db))),
      "information_schema_tables" -> (() =>
        graft.sources.InformationSchema.tablesFor(db, spark, tables)),
      "information_schema_columns" -> (() =>
        graft.sources.InformationSchema.columnsFor(db, spark, tables)),
      // declared layouts (+ live snapshot validity, which stats storage)
      "information_schema_table_layouts" -> (() =>
        graft.sources.InformationSchema.layoutsFor(db, spark, tables)),
      "xt_role_membership" -> { () =>
        import spark.implicits._
        membership.map { case (role, user) => (user, role) }
          .toDF("user", "role")
      },
      "xt_role_membership_history" -> (() => db.roleMembershipHistory)) ++
      graft.sources.PgCatalog.views(spark, tables, schemas, membership)
    val named = (storeTables ++ qualified ++ system).collect {
      case (name, build) if words(name.toLowerCase(java.util.Locale.ROOT)) =>
        name -> build()
    }
    bind(refViews.map(_._2) ++ named, text, Some(tok))
  }

  private def runQueryText(text: String): DataFrame =
    runQuery(parseQuery(text), db.snapshotToken())

  // ---- DML → TxOp ---------------------------------------------------------

  /** Scalar expression text from DML positions (SET clauses, RECORDS
    * fields, WHERE) — applies the dialect's scalar-level rewrites
    * (standard timestamp type names) before Spark parses it. */
  private def expr(e: String): Column =
    org.apache.spark.sql.functions.expr(
      XtSqlParser.rewriteTimestampTypes(e))

  private def recordsDf(records: Seq[Record]): DataFrame =
    records.map { rec =>
      // nested {k: v} objects inside field values become named_struct
      val items = rec.map { case (name, e) =>
        s"(${XtSqlParser.rewriteTimestampTypes(
          XtSqlParser.rewriteObjects(e))}) AS `$name`"
      }
      spark.sql(s"SELECT ${items.mkString(", ")}")
    }.reduce(_.unionByName(_, allowMissingColumns = true))

  private def validCols(df: DataFrame): (Option[Column], Option[Column]) = (
    if (df.columns.contains(Bitemporal.VF)) Some(col(Bitemporal.VF)) else None,
    if (df.columns.contains(Bitemporal.VT)) Some(col(Bitemporal.VT)) else None)

  private def rangeCols(valid: Option[ValidRange])
      : (Option[Column], Option[Column]) = valid match {
    case None => (None, None)
    case Some((from, to)) =>
      (Some(expr(from).cast("timestamp")),
        to.map(t => expr(t).cast("timestamp")))
  }

  def toTxOp(stmt: XtStatement): TxOp = {
    // system-schema write guard (reference forbidden-schemas): applies to
    // every DML route — direct, staged-in-tx, RETURNING, submitTxSql
    stmt match {
      case Insert(t, _) => rejectSystemWrite(t)
      case Update(t, _, _, _) => rejectSystemWrite(t)
      case Delete(t, _, _) => rejectSystemWrite(t)
      case Erase(t, _) => rejectSystemWrite(t)
      case CopyIn(t, _, _) => rejectSystemWrite(t)
      case Patch(t, _, _) => rejectSystemWrite(t)
      case _ => ()
    }
    toTxOpUnchecked(stmt)
  }

  private def rejectSystemWrite(table: String): Unit =
    if (forbiddenWrite(table))
      throw SqlParseException(
        s"Cannot write to table $table: system schemas are read-only")

  private def toTxOpUnchecked(stmt: XtStatement): TxOp = stmt match {
    case Query(_) =>
      throw SqlParseException("a SELECT is not a transaction operation")
    case Insert(table, FromQuery(q)) =>
      val docs = runQueryText(q)
      val (vf, vt) = validCols(docs)
      TxOp.Put(table, docs, vf, vt)
    case Insert(table, FromRecords(recs)) =>
      val docs = recordsDf(recs)
      val (vf, vt) = validCols(docs)
      TxOp.Put(table, docs, vf, vt)
    case Update(table, valid, sets, where) =>
      val (vf, vt) = rangeCols(valid)
      TxOp.Update(table, where.map(expr).getOrElse(lit(true)),
        sets.map { case (c, e) => c -> expr(e) }, vf, vt)
    case Delete(table, valid, where) =>
      val (vf, vt) = rangeCols(valid)
      TxOp.DeleteWhere(table, where.map(expr).getOrElse(lit(true)), vf, vt)
    case Erase(table, where) => TxOp.EraseWhere(table, expr(where))
    case CopyIn(table, path, format) =>
      val fmt = format.getOrElse {
        val lower = path.toLowerCase
        if (lower.endsWith(".csv")) "csv"
        else if (lower.endsWith(".json") || lower.endsWith(".jsonl")) "json"
        else "parquet"
      }
      val reader = spark.read
      val docs = (fmt match {
        case "csv" => reader.option("header", "true")
          .option("inferSchema", "true").format("csv")
        case other => reader.format(other)
      }).load(path)
      val (vf, vt) = validCols(docs)
      TxOp.Put(table, docs, vf, vt)
    case CreateTable(_, _, _) | DeclareLayout(_, _, _) | DropLayout(_) |
        GrantRevoke(_, _, _) | CopyOut(_, _, _) =>
      throw SqlParseException("DDL is not valid inside a transaction")
    case Patch(table, valid, recs) =>
      val (vf, vt) = rangeCols(valid)
      TxOp.Patch(table, recordsDf(recs), vf.map(f => (f, vt)))
    case Assert(cond, label) =>
      TxOp.Assert(label.getOrElse("ASSERT"), snap => assertDf(snap, cond))
  }

  /** ASSERT condition: tables resolve to the in-tx current snapshot, so a
    * multi-op tx can assert over its own staged effects. */
  private def assertDf(snap: TxSnapshot, cond: String): DataFrame =
    bind(snap.tables.map(t => t -> snap.current(t)), s"SELECT ($cond) AS ok")
}

object XtSqlEngine {
  /** An identifier-shaped word: the unit a statement names a relation by. */
  private val Word = "(?U)\\w+".r

  private val bindLocks = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, AnyRef]())

  /** The one lock per Spark session under which statements bind. */
  private def bindLock(spark: SparkSession): AnyRef =
    bindLocks.computeIfAbsent(spark, _ => new Object)
}
