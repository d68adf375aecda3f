package graft.bitemporal

import graft.functions.{DynamicSchema, Ids}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** ASSERT failure — aborts the transaction (reference: ASSERT tx op,
  * core/src/main/clojure/xtdb/query.clj:492). */
final case class TxAbortedException(message: String)
  extends RuntimeException(message)

/** One operation of a multi-op transaction (reference: `submit-tx` takes a
  * vector of tx-ops applied atomically at one system-time,
  * api/src/main/clojure/xtdb/api.clj:258-339; TxOp.kt). */
sealed trait TxOp
object TxOp {
  final case class Put(table: String, docs: DataFrame,
      validFrom: Option[Column] = None, validTo: Option[Column] = None)
    extends TxOp
  final case class Delete(table: String, ids: DataFrame,
      validFrom: Option[Column] = None, validTo: Option[Column] = None)
    extends TxOp
  final case class Erase(table: String, ids: DataFrame) extends TxOp
  /** PATCH; with `valid` bounds set, runs valid-time gap-filling against
    * the versioned timeline (reference operator/patch.clj:28-57,
    * PatchGapsCursor.kt:85) instead of a current-version merge. */
  final case class Patch(table: String, patches: DataFrame,
      valid: Option[(Column, Option[Column])] = None) extends TxOp
  final case class Update(table: String, where: Column,
      sets: Seq[(String, Column)],
      validFrom: Option[Column] = None, validTo: Option[Column] = None)
    extends TxOp
  /** DELETE … WHERE — ids resolved against the in-tx snapshot. */
  final case class DeleteWhere(table: String, where: Column,
      validFrom: Option[Column] = None, validTo: Option[Column] = None)
    extends TxOp
  /** ERASE … WHERE — ids resolved against the full event log (also
    * reaches docs with no current version). */
  final case class EraseWhere(table: String, where: Column) extends TxOp
  /** cond sees committed state PLUS the earlier ops of this transaction;
    * must yield exactly one true row or the whole tx aborts. */
  final case class Assert(label: String, cond: TxSnapshot => DataFrame)
    extends TxOp
}

/** Read view handed to in-transaction operations (ASSERT conditions):
  * committed events unioned with the events of this transaction's earlier
  * ops, resolved as-of the transaction's system time. */
trait TxSnapshot {
  def events(table: String): DataFrame
  def current(table: String): DataFrame
  /** Committed tables plus tables first created by this transaction. */
  def tables: Seq[String]
}

/** Append-only bitemporal table store + the DML surface
  * (reference tx ops: api/src/main/clojure/xtdb/api.clj:258-299,
  * core/src/main/kotlin/xtdb/tx/TxOp.kt — put/patch/delete/erase docs).
  *
  * Storage model (SURVEY §7.1): one parquet event-log directory per table
  * under `root/<table>`; each transaction appends one parquet part with a
  * monotonically-assigned `_system_from`. Nothing is ever rewritten —
  * `_system_to`/`_valid_to` closure is derived at read (Bitemporal.asOf /
  * history), like the reference's scan-time polygon resolution. On a real
  * cluster the same layout works on object storage; the log-append is the
  * single-writer coordination point (mirroring the reference's tx log,
  * core/src/main/clojure/xtdb/log.clj) and compaction = file consolidation.
  *
  * Scale note — the event log IS iid-bucketed at write time (round 12):
  * compaction rewrites each generation as a Spark bucketed table hashed on
  * `_iid` (the reference's trie layout, Trie.kt:34-60 — storage organized
  * by iid prefix at write time so the read path never re-partitions), and
  * [[events]] serves it CATALOG-FREE through a manifest-driven
  * explicit-file bucketed relation (StaticFileIndex — zero planning RPCs)
  * whenever storage still vouches for it (generation pointer + manifest;
  * an append from ANY instance invalidates). Maintenance is incremental
  * and crash-safe: leveled O(backlog) folds, full compaction committed
  * by one pointer CAS (zero-exchange at an unchanged fanout), bounded
  * bucket-local erase purge, and an incremental declared-layout snapshot
  * (folded from the changed ids' event buckets). `Bitemporal.asOf`'s
  * `_iid` windows and
  * every as-of join on `_iid` then plan with ZERO exchange: the per-query
  * shuffle of the whole event log becomes a write-once cost, exactly the
  * trade the declared snapshot layout made for equi joins. Fresh per-tx
  * appends land as plain files in the live generation dir and flip reads
  * back to the flat path until the next compaction.
  */
class XtDb(spark: SparkSession, val root: String) {

  import Bitemporal._
  import XtDb.{SidecarJson, WritePoint, corruptSidecar}

  private def tableDir(table: String) = s"$root/$table"

  // Two system-time heads, in µs. The ALLOCATION head orders writes: it
  // advances, under the monitor, when a write takes its system time. The
  // COMMITTED head is the basis readers see: a write publishes its time
  // there only once its durable log record has landed, so a reader never
  // waits for the writer and never sees a write still in flight. Every
  // instance over this root in the JVM shares the committed head, so a
  // commit through any of them is visible to reads through all. Both
  // start from the persisted logs ([[ensureHeads]]); 0 = empty store.
  @volatile private var lastSystemMicros = 0L
  private val committedMicros = XtDb.committedHead(
    hadoopFs.makeQualified(new org.apache.hadoop.fs.Path(root)).toString)
  @volatile private var headsAdopted = false
  // adoption's own lock, never the monitor: a reader adopts without
  // queueing behind a commit
  private val headsInit = new Object

  /** Log-head system time in µs (the allocation head) — lets external
    * appliers (CDC replay) pre-check the `submitTx` monotonicity
    * requirement and bump colliding source commit times instead of
    * aborting. */
  def logHeadMicros: Long = { ensureHeads(); lastSystemMicros }

  /** Monotonic system-time assignment (single-writer, reference
    * log-append-time semantics). A fresh instance over an EXISTING store
    * first adopts the persisted log head, so system time stays monotone
    * across instance restarts even under wall-clock skew — without this,
    * a skewed successor could stamp events BEFORE the predecessor's,
    * reordering bitemporal history (and silently escaping the snapshot
    * watermark). */
  private def nextSystemTime(): java.sql.Timestamp = synchronized {
    ensureHeads()
    lastSystemMicros = math.max(nowMicros(), lastSystemMicros + 1000L)
    microsToTs(lastSystemMicros)
  }

  /** Make `t` the committed head, once its durable record has landed. The
    * head only grows. */
  private def publish(t: java.sql.Timestamp): Unit =
    committedMicros.accumulateAndGet(tsMicros(t), math.max)

  /** Adopt the persisted log head — the latest system time in the tx log
    * and the role log — as both heads, once per instance (cold start on
    * an existing store). An absent log leaves the heads at 0; an
    * unreadable one throws, and the next call tries again — guessing the
    * floor could reorder bitemporal history. */
  private def ensureHeads(): Unit =
    if (!headsAdopted) headsInit.synchronized {
      if (!headsAdopted) {
        val m = systemLog(txsLiveDir, XtDb.TxLogSchema)
          .select(col("system_time").as("t"))
          .union(rolesLog.select(col("at").as("t")))
          .agg(max(col("t"))).collect().head
        val head = if (m.isNullAt(0)) 0L else tsMicros(m.getTimestamp(0))
        lastSystemMicros = math.max(lastSystemMicros, head)
        committedMicros.accumulateAndGet(head, math.max)
        headsAdopted = true
      }
    }

  // ---- schema registry: the table's current LUB schema, persisted as a
  // sidecar so reads don't need parquet footer merging (which cannot widen
  // int vs long anyway) and appends never rewrite storage (see
  // evolveSchema)
  private def schemaPath(table: String) =
    new org.apache.hadoop.fs.Path(s"$root/_schemas/$table.json")

  /** Event-log schemas are ALWAYS fully nullable: delete/erase events
    * carry null payload columns by construction, so a registered schema
    * inheriting non-nullability from a first put (literals, ranges) would
    * lie to codegen and NPE the first window/sort over a mixed log.
    * Normalized at save; a loaded schema is what was saved. */
  private def nullableize(
      dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      f.copy(dataType = nullableize(f.dataType), nullable = true)))
    case at: org.apache.spark.sql.types.ArrayType =>
      at.copy(elementType = nullableize(at.elementType), containsNull = true)
    case mt: org.apache.spark.sql.types.MapType =>
      mt.copy(keyType = nullableize(mt.keyType),
        valueType = nullableize(mt.valueType), valueContainsNull = true)
    case other => other
  }

  private def saveSchema(table: String, st: StructType): Unit =
    writeSidecar(schemaPath(table), nullableize(st).json)

  private def loadSchema(table: String): Option[StructType] =
    schemaSidecar(schemaPath(table))

  /** The registered schema of a table that holds event files. Every
    * writer saves it before the first data file ([[evolveSchema]],
    * [[createTable]]), so its absence is a damaged store: the read fails
    * and names the file, never guessing the schema from footers. */
  private def registeredSchema(table: String): StructType =
    loadSchema(table).getOrElse(missingRegistry(table))

  private def missingRegistry(table: String): Nothing =
    throw new IllegalStateException(
      s"table '$table' has event files but no schema registry " +
        s"${schemaPath(table)}: restore the file or regenerate the store")

  // ---- sidecars: the small metadata files next to the data (`_gen`,
  // `_evmeta.json`, `_snapmeta.json`, `_snapschema.json`, `_layout.json`,
  // `_schemas/<t>.json`, `_txs/_gen`). The store
  // has ONE format: every writer writes every field, so a sidecar missing
  // one is corrupt or from an unknown format, and reading it fails loudly
  // and names the file — never a quiet fallback to a weaker read.

  /** A sidecar's content; None when the file is absent. Any other
    * failure propagates. Sidecars are rewritten in place while readers
    * run, so the read bypasses the checksum layer (a checksum file trails
    * its data for a moment) and reads to the end of the file, not to a
    * length taken first. No sidecar is ever written empty: an empty read
    * caught a rewrite between its truncate and its write, and is re-read
    * for up to ~100 ms before it is returned. */
  private def readSidecar(p: org.apache.hadoop.fs.Path): Option[String] = {
    val fs = hadoopFs match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case f => f
    }
    def once(): Option[String] =
      try {
        val in = fs.open(p)
        try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
      } catch { case _: java.io.FileNotFoundException => None }
    var text = once()
    var retries = 0
    while (text.contains("") && retries < 50) {
      Thread.sleep(2)
      text = once()
      retries += 1
    }
    text
  }

  private def jsonSidecar(p: org.apache.hadoop.fs.Path): Option[SidecarJson] =
    readSidecar(p).map(new SidecarJson(p, _))

  private def schemaSidecar(p: org.apache.hadoop.fs.Path): Option[StructType] =
    readSidecar(p).map(s =>
      try org.apache.spark.sql.types.DataType.fromJson(s)
        .asInstanceOf[StructType]
      catch { case scala.util.control.NonFatal(e) =>
        corruptSidecar(p, e.toString, s) })

  private def writeSidecar(p: org.apache.hadoop.fs.Path, text: String): Unit = {
    val out = hadoopFs.create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** Raw event log for a table — served as ONE iid-BUCKETED relation over
    * the manifest's live file set (base bucket files + level folds)
    * whenever the appended backlog is empty ([[bucketedEventsIfValid]]):
    * `Bitemporal.asOf`'s windows and as-of joins by `_iid` then plan with
    * zero exchange. With a backlog pending, the read is bucketed(base +
    * levels) ∪ the flat backlog — always correct; a full resolve pays one
    * exchange until the next (incremental) compaction folds it, while an
    * `_id = k` read (XT SQL, pgwire, `pointLookup`, a point DML's
    * matched-row read) is pinned branch by branch by
    * [[graft.plans.IidBucketPruning]]: one bucket of the big side plus
    * that iid's backlog rows, resolved in one task with no exchange.
    *
    * Reads go under the registered LUB schema: Spark 4's vectorized
    * parquet reader widens narrower stored types (int→long, float/int→
    * double) at scan time, so a numeric widening append costs O(batch),
    * never a table rewrite (reference merge-types read-side conform).
    * A table with event files but no registry fails loudly
    * ([[registeredSchema]]). */
  def events(table: String): DataFrame = liveFileSets(table) match {
    case None => flatEvents(table)
    case Some(s) =>
      val bucketed = s.base ++ s.levelFiles
      if (bucketed.nonEmpty) {
        val rel = bucketedRelation(table, bucketed, s.meta.buckets)
        // backlog pending: serve bucketed(base+levels) ∪ flat backlog.
        // The union's output partitioning is unknown (windows pay their
        // exchange until the next fold — correct either way); an
        // `_id = k` read pins both branches (IidBucketPruning)
        if (s.backlog.isEmpty) rel
        else rel.unionByName(explicitRead(table, s.backlog))
      } else if (s.meta.levels.isEmpty && s.meta.consumed.isEmpty)
        // no bucketed files at all: the directory listing IS the live
        // set — the plain flat read (incl. the empty-table case)
        flatEvents(table)
      else explicitRead(table, s.backlog)
  }

  /** The flat (file-level) event read — the write path's view: every
    * rewrite/migration input reads THIS, never the catalog registration,
    * so a rewrite is decoupled from catalog state it is about to replace.
    * A table that does not exist fails with Spark's own missing-path
    * error. */
  private def flatEvents(table: String): DataFrame = loadSchema(table) match {
    case Some(st) => spark.read.schema(st).parquet(dataDir(table))
    case None if !tableExists(table) => spark.read.parquet(dataDir(table))
    case None => missingRegistry(table)
  }

  // Resolve the FileSystem FOR THE ROOT PATH, not the default FS — an
  // object-store root (s3a://…, or the objstore:// contract double in
  // ObjectStoreSpec) is a different FileSystem than fs.defaultFS
  private[graft] def hadoopFs: org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---- generation-pointer storage layout (object-store-safe commit) ----
  //
  // A table rewrite (schema union migration, compaction) must atomically
  // replace the table's files. delete+rename cannot do that on an object
  // store (S3-style stores have no rename; readers would see a missing or
  // half-copied directory). Instead: write the new files into a fresh
  // generation directory `<table>/g<N+1>`, then commit with ONE small PUT
  // of the pointer file `<table>/_gen` (object PUTs are atomic — readers
  // resolve either the old or the new generation, never a mixture). This
  // is the same commit shape the log-structured table formats use for
  // their metadata pointer, and the reference's storage modules assume
  // (modules/aws/src/main/kotlin/xtdb/aws — put/list/delete only).
  //
  // Layout: a committed generation holds the compacted event log as an
  // iid-BUCKETED file set (Spark bucket ids in the file names, served from
  // the manifest's file list); per-tx appends accumulate as plain
  // parquet parts in the same live directory ("generation 0" is the table
  // root before any rewrite). GC is lazy by one generation: `g<N-1>` is
  // deleted only when `g<N+1>` commits, so a reader that resolved the
  // pointer just before a flip can finish scanning (single-writer analogue
  // of a read lease; a deployment would use a time-based lease instead).

  private def genPath(table: String) =
    new org.apache.hadoop.fs.Path(s"${tableDir(table)}/_gen")

  /** Pointer content: `<n>:<dirname>` — the generation DIR NAME rides in
    * the pointer, so every rewrite writes into a fresh uniquely-suffixed
    * dir `g<n>_<suffix>`: two RACING full compactions can never interleave
    * files in a shared directory; the CAS on the pointer picks the
    * winner and the loser's whole dir is an inert orphan. */
  private def currentGenInfo(table: String): Option[(Int, String)] = {
    val p = genPath(table)
    readSidecar(p).map { raw =>
      raw.trim match {
        case XtDb.GenPointer(n, dir) => (n.toInt, dir)
        case other => corruptSidecar(p, "expected <n>:<dir>", other)
      }
    }
  }

  /** Current generation number; None = pre-rewrite root layout. */
  private def currentGen(table: String): Option[Int] =
    currentGenInfo(table).map(_._1)

  /** Name of the live generation dir under the table dir (`g<n>` or
    * `g<n>_<suffix>`); None = pre-rewrite root layout. */
  private def currentGenDirName(table: String): Option[String] =
    currentGenInfo(table).map(_._2)

  /** Directory holding the table's live data files (the current
    * generation after any rewrite; the table root before one). Public so
    * tooling/tests can inspect the live file set without re-deriving the
    * generation-pointer resolution. */
  def dataDir(table: String): String = currentGenInfo(table) match {
    case Some((_, d)) => s"${tableDir(table)}/$d"
    case None => tableDir(table)
  }

  /** Bucket count for a full compaction, derived from the live data size:
    * `max(16, ceil(bytes / spark.graft.eventBucketBytes))`, capped at
    * 4096. Persisted in `_evmeta.json` (readers and level folds adapt for
    * free) and RE-derived at every full compaction, so the fanout tracks
    * table growth — no bucket ever has to exceed ~one task read. */
  private def deriveEventBuckets(liveBytes: Long): Int = {
    val target = spark.conf
      .get("spark.graft.eventBucketBytes", (256L * 1024 * 1024).toString)
      .toLong
    math.min(4096L,
      math.max(XtDb.EventBucketFloor.toLong,
        (liveBytes + target - 1) / math.max(1L, target))).toInt
  }

  /** Bytes of the table's LIVE event files (base + levels + backlog) —
    * metadata-only listing. Consumed root files (rows already folded into
    * a level, on disk only for the read lease) are EXCLUDED — the same
    * filter [[liveFileSets]] applies — so the tiered small/large decision
    * and the derived bucket fanout track actual live data, not lease
    * debt. */
  private def liveEventBytes(table: String): Long =
    liveFileSets(table) match {
      case Some(s) =>
        (s.base ++ s.backlog ++ s.levelFiles).map(_.getLen).sum
      case None => listRootParquet(table).map(_.getLen).sum
    }

  /** The versions a generation commit CASes against — the pointer's and
    * the manifest's (-1 on stores without a version surface). Read BEFORE
    * the commit's inputs: a racing flip or manifest write then makes the
    * commit fail loudly, never overwrite. */
  private final case class CommitBasis(genV: Long, manifestV: Long)

  private def commitBasis(table: String): CommitBasis = CommitBasis(
    hadoopFs match {
      case c: graft.storage.VersionedPut => c.versionOf(genPath(table))
      case _ => -1L
    },
    readEvMetaV(table)._2)

  /** The one generation commit, shared by every whole-table rewrite
    * (full compaction at any fanout, schema-flip migration). `df` is
    * written as an iid-BUCKETED file set (one file per `_iid` bucket)
    * into a fresh `g<n>_<suffix>` dir — without a repartition when
    * `alreadyBucketed` (the input is hashed on `_iid` at `nb`) — and then,
    * in order: the pointer PUT (CAS), the manifest write (CAS), lazy GC
    * of everything older than the superseded generation. No rename
    * anywhere (ObjectStoreSpec enforces this). A crash before the flip
    * leaves the old generation and its manifest untouched (the new dir is
    * an inert orphan for the next commit's GC); a crash after it leaves a
    * gen-mismatched manifest, and the flipped generation reads flat from
    * its directory listing — exactly its live set — until the next
    * compaction re-stamps it. Recovery is a re-run. */
  private def rewriteCommit(table: String, basis: CommitBasis,
      df: DataFrame, nb: Int, alreadyBucketed: Boolean,
      pendingEraseCycles: Int = 0, sweepOldGen: Boolean = false): Unit = {
    val fs = hadoopFs
    val curInfo = currentGenInfo(table)
    val cur = curInfo.map(_._1)
    val next = cur.getOrElse(0) + 1
    // unique per-attempt dir (suffix carried IN the pointer): two racing
    // rewrites never interleave files — the CAS picks the winner, the
    // loser's dir is a whole orphan collected by the next commit's GC
    val gname = s"g${next}_" + java.util.UUID.randomUUID().toString.take(8)
    val gdir = s"${tableDir(table)}/$gname"
    // the files the generation lease would keep until the NEXT flip: if
    // they hold erased payload, schedule the bounded sweep instead
    val sweepDirs =
      if (!sweepOldGen) Nil
      else curInfo match {
        case Some((_, d)) => Seq(d)
        case None => listRootParquet(table).map(_.getPath.getName)
      }
    writeBucketedFiles(df, gdir, nb, alreadyBucketed = alreadyBucketed)
    XtDb.writePointHook(WritePoint.BeforeFlip(table))
    conditionalPut(genPath(table), s"$next:$gname", basis.genV,
      s"generation pointer of '$table'")
    XtDb.writePointHook(WritePoint.Flipped(table))
    writeEvMeta(table, EvMeta(next, nb, Nil, Set.empty, Nil, 0,
      eraseCycles = pendingEraseCycles, sweepDirs = sweepDirs),
      basis.manifestV)
    // keep the superseded generation for in-flight readers; drop older.
    // Root-layout legacy data (loose appended parts) is "generation 0":
    // kept on the g1 flip, swept on the g2 flip. Every `_`-prefixed
    // sidecar (_gen/_layout/_evmeta/_snapmeta/_snapschema) is
    // metadata, never GC'd here.
    val keep = Set(gname) ++ curInfo.map(_._2)
    if (cur.isDefined)
      fs.listStatus(new org.apache.hadoop.fs.Path(tableDir(table)))
        .filterNot { st =>
          val n = st.getPath.getName
          n.startsWith("_") || keep.contains(n)
        }
        .foreach(st => fs.delete(st.getPath, true))
  }

  // ---- iid-bucketed event-log serving (manifest-driven, round 13) ----
  //
  // The event-log twin of the declared-layout snapshot machinery, now
  // LSM-shaped: `_evmeta.json` is the MANIFEST of the live file set —
  // base bucket files (full compaction), level dirs (incremental backlog
  // folds, `_lv<k>`, hidden from directory listings), and the names of
  // consumed/retired files kept one cycle for in-flight readers (the
  // lazy-by-one read lease, same depth as the generation GC). Serving is
  // catalog-free: the live files are handed to Spark as ONE explicit
  // bucketed relation (HadoopFsRelation + BucketSpec), so there is no
  // registration to go stale across instances and a fresh session serves
  // straight from storage. Multiple files per bucket (base + levels) keep
  // the hash-clustering guarantee — Spark groups a bucket's files into
  // one task — which is all the zero-exchange windows/joins need.

  /** The live-event manifest (reference: the trie catalog's current-tries
    * metadata, Compactor.kt/SegmentMerge.kt level outputs):
    *  - `buckets`: the hash fanout every live bucketed file was written
    *    with (levels MUST match the base);
    *  - `levels`: ordered level dir names under the live generation dir
    *    (each one bucketed fold of appended backlog);
    *  - `consumed`: root append files whose rows live in a level — still
    *    on disk for one cycle, excluded from reads;
    *  - `retired`: level dirs superseded by a level merge — same lease;
    *  - `lvseq`: monotone level-name counter;
    *  - `eraseCycles`: maintenance cycles elapsed since the oldest
    *    UNPURGED erase entered the log (0 = none pending). Bounds the
    *    GDPR purge latency: once it reaches
    *    `spark.graft.erasePurge.maxCycles`, [[compactIfLagged]] runs the
    *    BUCKET-LOCAL purge ([[purgeErasedBuckets]]) regardless of the
    *    level-bytes ratio — a slow-growing table can no longer hold
    *    erased payload on disk indefinitely waiting for a geometric
    *    escalation that never comes;
    *  - `excluded`: RELATIVE paths (base file name, or `level/name`) of
    *    bucket files superseded by a bucket-local purge — still on disk
    *    for one cycle (read lease), excluded from every read, deleted at
    *    the next fold;
    *  - `sweepDirs`: TABLE-DIR-relative entries (a superseded generation
    *    dir, or legacy gen-0 loose parts) that held erased payload when a
    *    full compaction purged it — the usual lazy generation GC waits
    *    for the NEXT flip, which an idle table may never reach, so these
    *    are swept at the next maintenance cycle instead. */
  private[graft] final case class EvMeta(gen: Int, buckets: Int,
      levels: Seq[String], consumed: Set[String], retired: Seq[String],
      lvseq: Int, eraseCycles: Int = 0,
      excluded: Set[String] = Set.empty,
      sweepDirs: Seq[String] = Nil,
      // pending-erase ADDRESSING, recorded by every fold that carries an
      // erase event into a level (the purge never runs over an unfolded
      // backlog) — the purge then reads ONLY the affected buckets,
      // end-to-end, instead of re-scanning the live set to discover them.
      //  - `eraseBuckets`: iid-bucket ids (at this manifest's fanout) of
      //    every UNPURGED erased id; bounded by the 4096 fanout cap.
      //  - `eraseMaxSf`: max `_system_from` (micros) of the unpurged
      //    erase events — compared against the snapshot watermark at
      //    purge time so a snapshot that never folded the erase (a
      //    swallowed fold failure) is repaired BEFORE the markers are
      //    physically deleted (GDPR bound, ADVICE r14 #3).
      eraseBuckets: Set[Int] = Set.empty,
      eraseMaxSf: Long = 0L)

  private def evMetaPath(table: String) =
    new org.apache.hadoop.fs.Path(s"${tableDir(table)}/_evmeta.json")

  private def jsonArr(xs: Iterable[String]): String =
    xs.map(x => s""""$x"""").mkString("[", ",", "]")

  /** Commit a manifest. `expectVersion` >= 0 arms the conditional PUT on
    * a [[graft.storage.VersionedPut]] store (S3 If-Match / GCS generation
    * precondition analogue): the write succeeds only if the manifest is
    * still at the version this mutation READ — a lost race against
    * another writer fails LOUDLY (ConcurrentModificationException)
    * instead of last-write-wins silently corrupting the manifest chain.
    * On plain filesystems the single-writer discipline remains the
    * documented contract and the write is unconditional. */
  private[graft] def writeEvMeta(table: String, m: EvMeta,
      expectVersion: Long = -1L): Unit = {
    require((m.levels ++ m.consumed ++ m.retired ++ m.excluded ++
        m.sweepDirs)
        .forall(n => !n.exists(c => c == '"' || c == '\\' || c == '\n')),
      "manifest entries must be plain file/dir names")
    conditionalPut(evMetaPath(table), evMetaJson(m), expectVersion,
      s"event manifest of '$table'")
    evMetaCache.remove(table)
    ()
  }

  private def evMetaJson(m: EvMeta): String =
    s"""{"v":3,"gen":${m.gen},""" +
      s""""buckets":${m.buckets},"levels":${jsonArr(m.levels)},""" +
      s""""consumed":${jsonArr(m.consumed)},""" +
      s""""retired":${jsonArr(m.retired)},"lvseq":${m.lvseq},""" +
      s""""ecyc":${m.eraseCycles},"excl":${jsonArr(m.excluded)},""" +
      s""""sweep":${jsonArr(m.sweepDirs)},""" +
      s""""ebk":[${m.eraseBuckets.toSeq.sorted.mkString(",")}],""" +
      s""""emsf":${m.eraseMaxSf}}"""

  /** CAS-if-available PUT (see [[writeEvMeta]]). */
  private def conditionalPut(p: org.apache.hadoop.fs.Path,
      text: String, expectVersion: Long, what: String): Unit =
    hadoopFs match {
      case cas: graft.storage.VersionedPut if expectVersion >= 0L =>
        if (!cas.putIfVersion(p, text.getBytes("UTF-8"), expectVersion))
          throw new java.util.ConcurrentModificationException(
            s"lost commit race on $what ($p): another writer advanced " +
              s"it past version $expectVersion — this mutation is " +
              "abandoned; re-read and retry")
      case _ => writeSidecar(p, text)
    }

  /** Parse the manifest. A manifest that fails to parse is a LOUD error:
    * it is correctness-bearing (it excludes consumed duplicates and
    * includes hidden level dirs), so a silent flat fallback would serve
    * wrong rows. */
  private[graft] def readEvMeta(table: String): Option[EvMeta] =
    jsonSidecar(evMetaPath(table)).map { j =>
      j.requireVersion(3)
      EvMeta(j.int("gen"), j.int("buckets"), j.strs("levels"),
        j.strs("consumed").toSet, j.strs("retired"), j.int("lvseq"),
        j.int("ecyc"), j.strs("excl").toSet, j.strs("sweep"),
        j.ints("ebk"), j.long("emsf"))
    }

  /** The manifest with the version read before it. A manifest that
    * claims a FUTURE generation is corruption: the generation commit
    * flips the pointer before it writes `_evmeta.json`, and every other
    * manifest write keeps the generation, so no writer produces one.
    * Whether the live set it replaced had levels or consumed files
    * is unknowable from it, so serving or compacting from the flat
    * fallback would silently lose data; it fails loudly. */
  private def resolvedEvMetaV(table: String): (Option[EvMeta], Long) = {
    val (m, ver) = readEvMetaV(table)
    val curGen = currentGen(table).getOrElse(0)
    m.filter(_.gen > curGen).foreach { mm =>
      throw new IllegalStateException(
        s"event manifest of '$table' claims generation ${mm.gen} but " +
          s"the pointer is at $curGen: a flat fallback would hide level " +
          s"dirs and resurrect consumed duplicates. Restore _gen or " +
          s"_evmeta.json from the store's object history before reading " +
          s"or compacting.")
    }
    (m, ver)
  }

  private def cachedResolvedEvMeta(table: String): Option[EvMeta] =
    resolvedEvMetaV(table)._1

  /** Manifest read. Round 13 removed the unsafe negative TTL cache
    * (staleness could hide hidden `_lv` dirs). Round 14 restores the
    * per-query saving SAFELY, but only on stores that expose object
    * versions ([[graft.storage.VersionedPut]] — the etag/generation
    * surface of real object stores, where the metadata RPC actually
    * costs): the cache key is the manifest's VERSION, revalidated with
    * one cheap stat per read; any remote write bumps the version and
    * misses the cache. Plain filesystems (cheap local stats) keep the
    * always-read behavior — no TTL, no staleness window, ever. */
  private val evMetaCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Option[EvMeta])]()

  private def cachedEvMeta(table: String): Option[EvMeta] =
    readEvMetaV(table)._1

  /** (manifest, version-at-read). Version is -1 on stores without a
    * version surface (every read goes to storage there). The version is
    * read BEFORE the content: a write landing in between makes a later
    * CAS fail spuriously (safe) — never succeed wrongly. */
  private def readEvMetaV(table: String): (Option[EvMeta], Long) =
    hadoopFs match {
      case cas: graft.storage.VersionedPut =>
        graft.tools.EngineMetrics.manifestReads.incrementAndGet()
        val ver = cas.versionOf(evMetaPath(table))
        val hit = evMetaCache.get(table)
        if (hit != null && hit._1 == ver) {
          graft.tools.EngineMetrics.manifestCacheHits.incrementAndGet()
          (hit._2, ver)
        } else {
          val m = readEvMeta(table)
          evMetaCache.put(table, (ver, m))
          (m, ver)
        }
      case _ =>
        graft.tools.EngineMetrics.manifestReads.incrementAndGet()
        (readEvMeta(table), -1L)
    }

  // Spark's bucketed writers stamp the bucket id into the file name
  // (`part-00000-<uuid>_00003.c000.snappy.parquet`); plain append parts
  // carry no underscore-digit suffix at all. This mirrors the reader-side
  // rule Spark itself applies (BucketingUtils.getBucketId) PLUS the
  // writer's `part-` prefix, so base/level files and flat appends are
  // distinguishable from the listing alone — and a user-dropped
  // `backup_1.parquet` can never be mistaken for a bucket file and
  // silently pruned out of an `_iid = k` lookup (it reads as backlog).
  private val bucketFilePattern = """part-.*_(\d+)(?:\..*)?$""".r
  private def isBucketFile(name: String): Boolean =
    bucketFilePattern.pattern.matcher(name).matches()

  /** Bucket id stamped in a bucket file's name (callers must have checked
    * [[isBucketFile]]). */
  private def bucketIdOf(name: String): Int =
    bucketFilePattern.findFirstMatchIn(name).get.group(1).toInt

  /** Visible `.parquet` files under the live data dir (recursive, skipping
    * `_`-prefixed metadata that is not a partition dir — Spark's own
    * listing rule, so exactly what a flat read would see). */
  private def listRootParquet(table: String)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    val fs = hadoopFs
    val out = scala.collection.mutable.Buffer[org.apache.hadoop.fs.FileStatus]()
    def walk(p: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(p).foreach { st =>
        val nm = st.getPath.getName
        if (nm.startsWith("_") && !nm.contains("=")) ()
        else if (nm.startsWith(".")) ()
        else if (st.isDirectory) walk(st.getPath)
        else if (nm.endsWith(".parquet")) out += st
      }
    val dir = new org.apache.hadoop.fs.Path(dataDir(table))
    if (fs.exists(dir)) walk(dir)
    out.toSeq
  }

  private def levelParquet(table: String, level: String)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    val fs = hadoopFs
    val p = new org.apache.hadoop.fs.Path(s"${dataDir(table)}/$level")
    if (!fs.exists(p)) Nil
    else fs.listStatus(p)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .toSeq
  }

  private final case class LiveSets(meta: EvMeta,
      base: Seq[org.apache.hadoop.fs.FileStatus],
      backlog: Seq[org.apache.hadoop.fs.FileStatus],
      levelFiles: Seq[org.apache.hadoop.fs.FileStatus])

  /** Relative path of a live file under the data dir — the key the
    * manifest's `excluded` list uses (base file = its name; level file =
    * `level/name`). */
  private def relUnderData(table: String,
      f: org.apache.hadoop.fs.FileStatus): String = {
    val dd = hadoopFs.makeQualified(
      new org.apache.hadoop.fs.Path(dataDir(table))).toString
    val full = f.getPath.toString
    if (full.startsWith(dd + "/")) full.substring(dd.length + 1)
    else f.getPath.getName
  }

  /** Resolve the manifest against the live listing: base bucket files,
    * un-consumed flat backlog, level files — minus purge-superseded
    * `excluded` files. None = no (gen-matching) manifest — the table
    * reads flat. */
  private def liveFileSets(table: String): Option[LiveSets] =
    cachedResolvedEvMeta(table) match {
      case Some(m) if currentGen(table).getOrElse(0) == m.gen =>
        val rootFiles = listRootParquet(table)
        // a "bucket" file whose stamped id is outside the manifest fanout
        // cannot belong to the base set (the writer never produced it) —
        // it reads as flat backlog instead of being wrongly prunable
        def isBase(name: String) =
          isBucketFile(name) && bucketIdOf(name) < m.buckets
        // exclusion matches on the DATA-DIR-RELATIVE path, the key the
        // purge writes (a base file's name, a level file's `level/name`)
        val base = rootFiles.filter(f => isBase(f.getPath.getName) &&
          !m.excluded.contains(relUnderData(table, f)))
        val backlog = rootFiles.filterNot(f =>
          isBase(f.getPath.getName) ||
            m.consumed.contains(f.getPath.getName))
        val lv = m.levels.flatMap(levelParquet(table, _)).filterNot(f =>
          m.excluded.contains(relUnderData(table, f)))
        Some(LiveSets(m, base, backlog, lv))
      case _ => None
    }

  /** One bucketed relation over an EXPLICIT file list (public Spark API:
    * InMemoryFileIndex over leaf files + HadoopFsRelation carrying the
    * BucketSpec, surfaced via `baseRelationToDataFrame`). Catalyst sees
    * `HashPartitioning(_iid, buckets)` on the scan — windows/joins on
    * `_iid` plan with zero exchange, `_iid = k` prunes to one bucket —
    * with no session-catalog registration to go stale. */
  private def bucketedRelation(table: String,
      files: Seq[org.apache.hadoop.fs.FileStatus], buckets: Int): DataFrame =
    bucketedRelationFor(files, buckets, IID, registeredSchema(table),
      sortCols = Nil)

  /** Explicit-file bucketed relation on an arbitrary key (the
    * declared-layout snapshot twin of [[bucketedRelation]]). `sortCols`
    * may claim per-file sort order — Spark only exploits it when each
    * bucket has a single file, which the copy-on-write snapshot folds
    * preserve. */
  private def bucketedRelationFor(
      files: Seq[org.apache.hadoop.fs.FileStatus], buckets: Int,
      key: String, schema: StructType,
      sortCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.execution.datasources._
    // the manifest already vouches for these statuses — a StaticFileIndex
    // plans with ZERO further filesystem calls (InMemoryFileIndex would
    // re-stat every leaf file per query: N metadata RPCs per serve on an
    // object store)
    val index = new graft.storage.StaticFileIndex(files)
    val rel = HadoopFsRelation(index, new StructType(), schema,
      Some(org.apache.spark.sql.catalyst.catalog.BucketSpec(
        buckets, Seq(key), sortCols)),
      new parquet.ParquetFileFormat(), Map.empty)(spark)
    spark.baseRelationToDataFrame(rel)
  }

  /** Plain (non-bucketed) read of an explicit live file list under the
    * registered LUB schema. An empty list is the correctly-typed empty
    * relation, never a directory listing (which could resurrect consumed
    * files). */
  private def explicitRead(table: String,
      files: Seq[org.apache.hadoop.fs.FileStatus]): DataFrame = {
    val st = registeredSchema(table)
    if (files.isEmpty) spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), st)
    else spark.read.schema(st).parquet(files.map(_.getPath.toString): _*)
  }

  /** The iid-bucketed event log, iff the manifest's live set has NO
    * pending flat backlog: any append from any instance shows up in the
    * live-dir listing as an un-consumed flat file and flips readers to
    * the explicit-union path until the next (incremental) compaction
    * folds it. Public so specs/tools can pin the serving decision.
    *
    * Concurrency contract: the manifest-then-list is not atomic against
    * a REMOTE writer — an append landing between the two can surface as
    * a transient listing error that a retry resolves; the same class as
    * the generation-flip read lease. Within an instance the single-writer
    * discipline prevents it. */
  def bucketedEventsIfValid(table: String): Option[DataFrame] =
    liveFileSets(table) match {
      case Some(s) if s.backlog.isEmpty && (s.base ++ s.levelFiles).nonEmpty =>
        Some(bucketedRelation(table, s.base ++ s.levelFiles, s.meta.buckets))
      case _ => None
    }

  private def tableExists(table: String): Boolean = {
    val fs = hadoopFs
    val dir = new org.apache.hadoop.fs.Path(tableDir(table))
    // a layout may be declared BEFORE the first write; a directory whose
    // only member is the declaration holds no table yet
    fs.exists(dir) &&
      fs.listStatus(dir).exists(_.getPath.getName != "_layout.json")
  }

  /** Stamp the bitemporal event-meta columns onto a doc batch. `_seq` is
    * a placeholder here: [[sequenced]] numbers a table's events once,
    * over the whole transaction. */
  private def buildEvents(docs: DataFrame, op: String,
      validFrom: Option[Column], validTo: Option[Column],
      sysTime: java.sql.Timestamp): DataFrame = {
    val vf = validFrom.getOrElse(lit(sysTime)).cast("timestamp")
    val vt = validTo.map(_.cast("timestamp")).getOrElse(lit(null).cast("timestamp"))
    // _system_to is always derived at read — never a stored payload column
    // (an INSERT … SELECT from a snapshot view would otherwise carry it in)
    docs.drop(ST)
      .withColumn(IID, Ids.iidHex(col(ID)))
      .withColumn(VF, vf)
      .withColumn(VT, vt)
      .withColumn(SF, lit(sysTime))
      .withColumn(SEQ, lit(0L))
      .withColumn(OP, lit(op))
      .withColumn(BUCKET, substring(col(IID), 1, 1))
  }

  /** LUB-conform, then union: the parts may carry conflicting types for a
    * column (ops of one tx, the duv_promotion within-tx case), which a
    * raw unionByName would coerce (string->long cast error) instead of
    * promoting to the tagged union. */
  private def lubUnion(parts: Seq[DataFrame]): DataFrame = {
    val lubbed = parts.map(_.schema).reduce(DynamicSchema.mergeSchemas)
    parts.map(DynamicSchema.conform(_, lubbed))
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** One table's events of a transaction: its op frames in op order,
    * `_seq` numbered once over their union. A union's partitions come in
    * child order, so a later op supersedes an earlier one at the shared
    * system time (EventAlgebra's tie-break), and the rows of one op keep
    * the order their own frame gives them. */
  private def sequenced(frames: Seq[DataFrame]): DataFrame =
    lubUnion(frames).withColumn(SEQ, monotonically_increasing_id())

  /** An observation's row, with a BOUNDED wait: the write action has
    * already completed when this is called, but the QueryExecutionListener
    * that feeds the Observation fires asynchronously — one bounded
    * `Await.result` on the observation future covers the listener-bus
    * latency. A timeout or failure returns None and the caller falls back
    * to a recompute — the commit path can never block indefinitely on
    * metrics plumbing. */
  private def observedRow(o: org.apache.spark.sql.Observation)
      : Option[org.apache.spark.sql.Row] =
    try Some(scala.concurrent.Await.result(o.future,
      scala.concurrent.duration.Duration(10, "seconds")))
    catch { case scala.util.control.NonFatal(_) => None }

  /** Start the erase-purge clock at the erase commit itself (one tiny
    * manifest PUT), so the latency bound counts from the user's erase,
    * not from whenever the first fold happens to notice it. The mark
    * carries no addressing: the purge never runs over an unfolded
    * backlog, and the fold that carries the erase into a level records
    * its buckets and system time from its own input
    * ([[compactIncremental]]). Maintenance metadata — must never fail the
    * committed erase; a lost mark costs latency, never the bound. */
  private def markErasePending(table: String): Unit =
    maintenance(s"erase-pending mark on '$table'",
        "erase is committed; the fold will re-detect it") {
      val (m0, ver) = resolvedEvMetaV(table)
      m0.filter(m => m.gen == currentGen(table).getOrElse(0) &&
          m.eraseCycles < 1)
        .foreach(m => writeEvMeta(table, m.copy(eraseCycles = 1), ver))
    }

  /** Run post-commit maintenance: a failure leaves the commit standing
    * and is reported, never thrown — the write already committed, and a
    * caller seeing it fail would retry it. */
  private def maintenance(what: String, standing: String)(
      body: => Unit): Unit =
    try body
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"[xtdb] $what failed ($standing): ${e.getMessage}")
    }

  /** Post-write compaction trigger — the reference compactor's wakeup
    * (Compactor.kt wakes as level-0 files accumulate) wired into the
    * ingest path, so a steady-write table with a DECLARED layout returns
    * to snapshot serving without operator action: every write invalidates
    * the bucketed snapshot (correct), and once the appended backlog
    * exceeds `spark.graft.autoCompact.maxLag` (default 8; -1 disables)
    * the write that crossed the threshold folds it back in. Cost is
    * TIERED (see [[compactIfLagged]]): a small table takes the full
    * rewrite + snapshot rebuild inline (sub-second); a LARGE table takes
    * the O(backlog) incremental fold, with the full rewrite amortized
    * geometrically — so steady ingest never pays O(table) per put the
    * way the pre-round-13 trigger did. Tables without a declared layout
    * keep the explicit [[compact]]/[[compactIfLagged]] contract — they
    * serve the flat log correctly either way, so the rewrite
    * amplification is opt-in. */
  private def maybeAutoCompact(table: String): Unit = {
    val maxLag = spark.conf.get("spark.graft.autoCompact.maxLag", "8").toInt
    // opted-in = a declared layout, OR ANY manifest exists (the user
    // compacted once — the reference's compactor likewise services every
    // trie-organized table continuously). A gen-STALE manifest still
    // counts: a crash between the generation-pointer PUT and the meta
    // write would otherwise silently stop auto-compaction and let the
    // backlog grow unboundedly; the next trigger's full compact re-stamps
    // it. A table never compacted and never declared is NEVER
    // auto-rewritten (pinned).
    def optedIn = layoutOf(table).isDefined ||
      cachedEvMeta(table).isDefined
    if (maxLag >= 0 && optedIn)
      maintenance(s"auto-compaction of '$table'",
          "append is committed; backlog remains") {
        compactIfLagged(table, maxLag); ()
      }
  }

  /** Commits on this instance between their system-time allocation and
    * their return or throw. */
  private val inFlight = new java.util.concurrent.atomic.AtomicInteger

  /** A commit on this instance is in flight — the synchronous store's
    * equivalent of the reference's submitted-but-not-processed message
    * window (`/healthz/started`). Commit state, not files: a process
    * killed mid-commit leaves nothing that reads as in flight. */
  private[graft] def commitInFlight: Boolean = inFlight.get > 0

  /** The one commit protocol. Every write of this store — the put,
    * delete, erase, patch, update and copy APIs, SQL DML, CDC and Connect
    * — is one atomic transaction whose ops share ONE system time
    * (reference submit-tx, api.clj:258-339, on one ordered log): a
    * failing ASSERT — or any error — aborts the batch with nothing
    * visible.
    *
    * Later ops (UPDATE sources, DELETE/ERASE … WHERE, PATCH merges,
    * ASSERT conditions) see the effects of earlier ops, resolved as-of
    * the transaction time. Op i is pinned (`localCheckpoint`) only when a
    * later op reads that view of its table — an Update, DeleteWhere,
    * EraseWhere or Patch on the same table, or any Assert — and its
    * blocks are released when the commit returns or throws. Every other
    * op's frame goes straight into its table's single append, so a
    * one-op transaction runs its plan once, inside the append job. Each
    * table's events take `_seq` in op order, then in each op's row order
    * ([[sequenced]]).
    *
    * Single-writer, like the reference's log-append: commits serialize
    * on this instance's monitor. Readers never take it. A transaction
    * becomes visible ([[snapshotToken]]) once its log record lands,
    * before its erase marks and auto-compaction run; until then its
    * events, landed or not, sit above every reader's basis, and a failure
    * before the log record is written deletes the files its appends
    * landed. */
  def submitTx(ops: Seq[TxOp],
      systemTime: Option[java.sql.Timestamp] = None): java.sql.Timestamp =
    commit(ops, systemTime)._1

  /** [[submitTx]], returning the commit's system time and the event rows
    * it appended — counted by the append writes themselves, never by a
    * second run of an op's plan, and only when the returned function is
    * called (the first call may wait, bounded, for the observations). */
  private[graft] def commit(ops: Seq[TxOp],
      systemTime: Option[java.sql.Timestamp] = None)
      : (java.sql.Timestamp, () => Long) = synchronized {
    // explicit system time = the reference's import/backfill override
    // (`:system-time` on submit-tx); must stay monotonic vs the log
    val sysTime = systemTime match {
      case Some(t) =>
        ensureHeads()
        val us = tsMicros(t)
        require(us > lastSystemMicros,
          s"system-time override $t is not after the log head")
        lastSystemMicros = us
        t
      case None => nextSystemTime()
    }
    inFlight.incrementAndGet()
    val frames = scala.collection.mutable.LinkedHashMap[String,
      scala.collection.mutable.Buffer[DataFrame]]()
    def viewEvents(table: String): DataFrame = {
      val all = (if (tableExists(table)) Seq(events(table)) else Nil) ++
        frames.get(table).map(f => sequenced(f.toSeq))
      require(all.nonEmpty, s"submitTx: unknown table $table")
      lubUnion(all)
    }
    val snapshot: TxSnapshot = new TxSnapshot {
      def events(table: String): DataFrame = viewEvents(table)
      def current(table: String): DataFrame =
        Bitemporal.asOf(viewEvents(table), lit(sysTime), lit(sysTime),
          lit(sysTime))
      def tables: Seq[String] =
        (XtDb.this.tables ++ frames.keys).distinct.sorted
    }
    def readsView(later: TxOp, table: String): Boolean = later match {
      case _: TxOp.Assert => true
      case TxOp.Update(t, _, _, _, _) => t == table
      case TxOp.DeleteWhere(t, _, _, _) => t == table
      case TxOp.EraseWhere(t, _) => t == table
      case TxOp.Patch(t, _, _) => t == table
      case _ => false
    }
    // the pinned ops' checkpoints, released when the commit ends
    val pins = scala.collection.mutable.Buffer[DataFrame]()
    def add(i: Int, table: String, docs: DataFrame, op: String,
        validFrom: Option[Column], validTo: Option[Column]): Unit = {
      val ev = buildEvents(docs, op, validFrom, validTo, sysTime)
      frames.getOrElseUpdate(table, scala.collection.mutable.Buffer()) +=
        (if (ops.drop(i + 1).exists(readsView(_, table))) {
          pins += ev.localCheckpoint(eager = true)
          pins.last
        } else ev)
    }
    val beginning = Some(lit("0001-01-01 00:00:00"))
    // each appended table's data dir with its listing from before the
    // append (None: the append made the dir), kept until the log record is
    // being written — a failure in between deletes what landed there
    // ([[dropLanded]])
    var landed =
      List.empty[(org.apache.hadoop.fs.Path, Option[Set[String]])]
    try {
      ops.zipWithIndex.foreach {
        case (TxOp.Put(t, docs, vf, vt), i) => add(i, t, docs, "put", vf, vt)
        case (TxOp.Delete(t, ids, vf, vt), i) =>
          add(i, t, ids.select(col(ID)), "delete", vf, vt)
        case (TxOp.DeleteWhere(t, where, vf, vt), i) =>
          add(i, t, snapshot.current(t).filter(where).select(col(ID)),
            "delete", vf, vt)
        case (TxOp.Erase(t, ids), i) =>
          add(i, t, ids.select(col(ID)), "erase", beginning, None)
        case (TxOp.EraseWhere(t, where), i) =>
          add(i, t, viewEvents(t).filter(where).select(col(ID)).distinct(),
            "erase", beginning, None)
        case (TxOp.Patch(t, patches, None), i) =>
          add(i, t, mergePatches(snapshot.current(t), patches), "put",
            None, None)
        case (TxOp.Patch(t, patches, Some((pvf, pvt))), i) =>
          val rects = Bitemporal.resolve(viewEvents(t),
            Bitemporal.TemporalSpec.All,
            Bitemporal.TemporalSpec.AsOf(lit(sysTime)))
          add(i, t, patchGapSegments(rects, patches, pvf, pvt), "put",
            Some(col(VF)), Some(col(VT)))
        case (TxOp.Update(t, where, sets, vf, vt), i) =>
          add(i, t, applyUpdate(snapshot.current(t), where, sets), "put",
            vf, vt)
        case (TxOp.Assert(label, cond), _) =>
          val rows = cond(snapshot).limit(2).collect()
          val ok = rows.length == 1 && !rows(0).isNullAt(0) &&
            rows(0).getBoolean(0)
          if (!ok) throw TxAbortedException(s"$label failed")
      }
      val tables = frames.keys.toSeq
      val appended = tables.map { table =>
        val df = evolveSchema(table, sequenced(frames(table).toSeq))
        val dir = new org.apache.hadoop.fs.Path(dataDir(table))
        landed ::= (dir -> entryNames(dir))
        val rows = org.apache.spark.sql.Observation(
          s"tx-rows-${System.nanoTime()}")
        df.observe(rows, count(lit(1)).as("n"))
          .write.mode("append").parquet(dir.toString)
        table -> rows
      }
      XtDb.writePointHook(WritePoint.Appended(tables))
      landed = Nil
      logTx(sysTime, tables.mkString(","), s"tx[${ops.length}]",
        committed = true, error = None)
      // committed: readers see this transaction from here on, while the
      // erase marks and auto-compaction below still run
      publish(sysTime)
      ops.collect {
        case TxOp.Erase(t, _) => t
        case TxOp.EraseWhere(t, _) => t
      }.distinct.foreach(markErasePending)
      tables.foreach(maybeAutoCompact)
      // counted on demand: only a caller that reports the count waits for
      // the observations. A lost observation counts the table's events at
      // this system time — what the commit wrote, not a rerun of its plan
      lazy val rows = appended.map { case (table, o) =>
        observedRow(o).map(_.getAs[Long]("n")).getOrElse(
          events(table).filter(col(SF) === lit(sysTime)).count())
      }.sum
      (sysTime, () => rows)
    } catch {
      case e: TxAbortedException =>
        logTx(sysTime, "", "tx-abort", committed = false, Some(e.message))
        publish(sysTime)
        throw e
    } finally {
      landed.foreach { case (dir, before) =>
        dropLanded(dir, before, sysTime) }
      pins.foreach(_.queryExecution.analyzed.collectFirst {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }.foreach(_.unpersist(blocking = false)))
      inFlight.decrementAndGet()
    }
  }

  /** Delete what an append of a failed commit landed in `dir`: the loose
    * data files (and Spark's `_SUCCESS` marker) that were not in its
    * `before` listing and hold no row of another system time. Maintenance
    * may have written into the same dir meanwhile — a fold's or purge's
    * `_lv` level, a generation dir, `_`-prefixed sidecars — so no
    * directory and no other `_`/`.`-prefixed entry is touched; another
    * instance's commit may have landed loose files there too, and its
    * rows carry its own system time. A dir the append made (`before`
    * None) goes only when nothing else is left in it. */
  private def dropLanded(dir: org.apache.hadoop.fs.Path,
      before: Option[Set[String]], sysTime: java.sql.Timestamp): Unit = {
    val fs = hadoopFs
    if (fs.exists(dir)) {
      val fresh = fs.listStatus(dir).filter { st =>
        val n = st.getPath.getName
        st.isFile && !before.exists(_.contains(n)) &&
          (n == "_SUCCESS" || !(n.startsWith("_") || n.startsWith(".")))
      }.map(_.getPath)
      val data = fresh.filter(_.getName != "_SUCCESS")
      val foreign =
        if (data.isEmpty) Set.empty[String]
        else spark.read.parquet(data.map(_.toString): _*)
          .where(col(SF) =!= lit(sysTime))
          .select(col("_metadata.file_name")).distinct()
          .collect().map(_.getString(0)).toSet
      fresh.filterNot(p => foreign(p.getName)).foreach(fs.delete(_, false))
      if (before.isEmpty && fs.listStatus(dir).isEmpty) fs.delete(dir, false)
    }
  }

  /** The names directly under `dir`; None when it does not exist. */
  private def entryNames(
      dir: org.apache.hadoop.fs.Path): Option[Set[String]] = {
    val fs = hadoopFs
    if (!fs.exists(dir)) None
    else Some(fs.listStatus(dir).map(_.getPath.getName).toSet)
  }

  private def sameTypes(a: StructType, b: StructType): Boolean =
    a.fields.map(f => f.name -> f.dataType).toMap ==
      b.fields.map(f => f.name -> f.dataType).toMap

  /** Dynamic-schema write path (reference merge-types, types.clj:142-146):
    * LUB-merge the incoming batch schema with the table's; numeric
    * conflicts widen, mixed scalars become tagged union structs
    * (DynamicSchema).
    *
    * Scale contract: an append is O(batch). Numeric widenings only update
    * the schema registry — existing files stay narrow and the reader
    * widens at scan (see `events`); `compact()` folds the physical
    * migration in whenever it next runs. Only a transition to a tagged
    * UNION column (genuinely incompatible scalars, rare) still rewrites
    * synchronously, because no parquet read-side promotion can turn a
    * stored string into a struct. */
  private def evolveSchema(table: String, incoming: DataFrame): DataFrame = {
    if (!tableExists(table)) {
      saveSchema(table, incoming.schema)
      incoming
    } else {
      val existingSchema = registeredSchema(table)
      val merged = DynamicSchema.mergeSchemas(existingSchema, incoming.schema)
      if (!sameTypes(merged, existingSchema)) {
        // A change the parquet reader can promote (numeric widening, added
        // fields — incl. nested ones) is registry-only; a type flip (union
        // transition at any depth, scalar->struct) needs the files rewritten
        // because no read-side promotion can conjure the new shape.
        if (!DynamicSchema.readPromotable(existingSchema, merged))
          rewriteTable(table, merged)
        saveSchema(table, merged)
      }
      DynamicSchema.conform(incoming, merged)
    }
  }

  /** Schema-flip rewrite: NOT a compaction — erase events (and their
    * pending-purge clock) ride into the new generation unpurged, and an
    * erase-tainted superseded generation still gets the bounded sweep. */
  private def rewriteTable(table: String, schema: StructType): Unit = {
    val basis = commitBasis(table)
    val sets = liveFileSets(table)
    val pending = sets.map(_.meta.eraseCycles).getOrElse(0)
    rewriteCommit(table, basis,
      DynamicSchema.conform(liveRead(table, sets), schema),
      deriveEventBuckets(liveEventBytes(table)), alreadyBucketed = false,
      pendingEraseCycles = pending, sweepOldGen = pending > 0)
  }

  /** Every live event as one plain read: base + levels + backlog through
    * the manifest — NEVER the directory listing once levels or consumed
    * files exist — or the listing when there is no manifest. */
  private def liveRead(table: String, sets: Option[LiveSets]): DataFrame =
    sets match {
      case Some(s) => explicitRead(table, s.base ++ s.levelFiles ++ s.backlog)
      case None => flatEvents(table)
    }

  /** Point lookup by `_id`: the `_id` equality above the snapshot lets
    * [[graft.plans.IidBucketPruning]] derive the `_iid` + `_bucket`
    * predicates at every event scan — the bucketed base + levels read ONE
    * of the hash buckets before any file is opened (Spark bucket pruning —
    * the reference's iid-trie path pruning, scan.clj:161-199 /
    * Trie.kt:34-60), a pending backlog only that iid's rows via the
    * pushed parquet filter — and runs the resolve in one task. */
  def pointLookup(table: String, id: Any,
      validAt: Option[Column] = None,
      systemAt: Option[Column] = None): DataFrame =
    asOf(table, validAt, systemAt).filter(col(ID) === lit(id))

  /** Compaction — consolidate the many small per-transaction files into one
    * file per storage bucket (reference compactor/Compactor.kt; OPTIMIZE
    * analogue), and **physically remove erased history**: events at or
    * before an iid's latest erase are dropped from storage, along with the
    * now-purposeless erase markers (the reference's GDPR guarantee —
    * compaction drops post-erase events, PolygonCalculator.kt:43-46 +
    * SegmentMerge). Events written after an erase (re-insert) survive.
    * Compaction also completes any deferred schema migration: the read
    * conforms every file to the registered LUB schema, so the rewritten
    * files are physically wide and later scans stop paying the widening
    * promotion. Single-writer: do not run concurrently with appends. */
  def compact(table: String): Unit = {
    // a layout may be declared before the first write — nothing to fold
    if (!tableExists(table)) return
    // a bucketed base with a backlog: fold the backlog first (O(backlog))
    // so every live row is bucketed and an unchanged fanout merges per
    // bucket below
    liveFileSets(table).foreach(s =>
      if (s.backlog.nonEmpty && (s.base ++ s.levelFiles).nonEmpty)
        compactIncremental(table))
    val basis = commitBasis(table)
    val sets = liveFileSets(table)
    val nb = deriveEventBuckets(liveEventBytes(table))
    // the fanout is unchanged: base and level files are already hashed on
    // `_iid` at `nb`, so the purge window and the bucketed write merge
    // bucket by bucket with ZERO exchange (the reference merges per trie
    // partition, compactor/Compactor.kt / SegmentMerge.kt). A fanout
    // change (or no bucketed base yet) pays the one shuffle.
    val aligned = sets.filter(s => s.backlog.isEmpty && s.meta.buckets == nb)
      .map(s => s.base ++ s.levelFiles).filter(_.nonEmpty)
    val ev = aligned match {
      case Some(files) => bucketedRelation(table, files, nb)
      case None => liveRead(table, sets)
    }
    // erased payload is being purged from the NEW generation — the old
    // one (lease) must not outlive the bound either. The manifest's
    // pending-erase clock knows; a manifest-less first compact pays one
    // pushed-predicate probe.
    val hadErase = sets.map(_.meta.eraseCycles > 0)
      .getOrElse(!ev.where(col(OP) === "erase").isEmpty)
    rewriteCommit(table, basis, purgeErased(ev), nb,
      alreadyBucketed = aligned.isDefined, sweepOldGen = hadErase)
    layoutOf(table).foreach(l => materializeCurrentSnapshot(table, l))
  }

  /** Drop every event at or before an iid's latest erase, plus the erase
    * markers themselves (the GDPR purge — reference PolygonCalculator
    * .kt:43-46 + SegmentMerge: post-erase events don't survive
    * compaction; a re-insert after the erase does). All events of an iid
    * share its hash bucket, so over a bucketed input the window plans
    * with zero exchange. */
  private def purgeErased(ev: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(IID)
    ev.withColumn("__erase_sf",
        max(when(col(OP) === "erase", col(SF))).over(w))
      .filter(col(OP) =!= "erase" &&
        (col("__erase_sf").isNull || col(SF) > col("__erase_sf")))
      .drop("__erase_sf")
  }

  // ---- declared layout (bucket key + count) ------------------------------
  //
  // The engine's answer to the measured fact-join slope (BASELINE.md
  // round-10 25× table: co-bucketing lineitem+orders turned q03/q05/q09's
  // marginal slopes 11.7/19.1/14.1 into 2.0/3.7/4.1): a table may DECLARE
  // its dominant join key, persisted with the table, and compaction then
  // ALSO materializes the current snapshot bucketed on that key into the
  // session catalog — reads of the current state join on the key with
  // zero fact-side exchange (Catalyst recognizes the bucket spec's
  // HashPartitioning). This is the write-once/join-forever trade: the
  // bucketing shuffle is paid once at compaction, not per query. The
  // reference's analogue is its trie-partitioned L1 compaction layout
  // (compactor/Compactor.kt) — storage organized for the read path at
  // write time.

  final case class TableLayout(key: String, buckets: Int)

  private def layoutPath(table: String) =
    new org.apache.hadoop.fs.Path(s"${tableDir(table)}/_layout.json")

  /** Declare the table's bucket layout (persisted as one small JSON next
    * to the generation pointer — atomic PUT, object-store-safe). Takes
    * effect at the NEXT [[compact]]; an already-valid snapshot built
    * under a different layout is invalidated immediately. */
  def declareLayout(table: String, key: String, buckets: Int): Unit = {
    require(buckets > 0, s"declareLayout($table): buckets must be > 0")
    // same character policy as LayoutCatalog.validate: the key is spliced
    // into hand-rolled JSON (quote/newline would produce a sidecar the
    // regex reader silently fails on) and into backtick-quoted DDL
    require(key.nonEmpty && !key.exists(c => c == '"' || c == '`' ||
        c == '\'' || c == '\\' || c == '\n' || c == '\r'),
      s"declareLayout($table): key '$key' must be non-empty and contain " +
        "no quote/backtick/backslash/newline characters")
    // a declaration against an EXISTING table must name a real payload
    // column now — otherwise the bad key persists and every later
    // compaction (incl. the post-write auto-compaction) fails at
    // materialization, long after the put that triggered it. Resolution
    // is case-insensitive like the engine's own column resolution, and
    // the CANONICAL column name is what gets persisted (the DDL splice
    // backtick-quotes it verbatim).
    val canonicalKey =
      if (!tableExists(table)) key
      else {
        val cols = registeredSchema(table).fieldNames
        cols.find(_.equalsIgnoreCase(key)).getOrElse(
          throw new IllegalArgumentException(
            s"declareLayout($table): key '$key' is not a column " +
              s"(${cols.mkString(", ")})"))
      }
    writeSidecar(layoutPath(table),
      s"""{"key":"$canonicalKey","buckets":$buckets}""")
    noSnapshot.remove(table)
  }

  /** Remove the table's declared layout: the persisted declaration is
    * deleted and the bucketed current snapshot stops serving (its meta
    * no longer matches a declared layout); the event log itself stays
    * bucketed until the next compaction (harmless — it is still the
    * correct data, just organized). */
  def dropLayout(table: String): Unit = {
    val fs = hadoopFs
    fs.delete(layoutPath(table), false)
    noSnapshot.remove(table)
    ()
  }

  /** The table's declared layout, if any. */
  def layoutOf(table: String): Option[TableLayout] =
    jsonSidecar(layoutPath(table))
      .map(j => TableLayout(j.str("key"), j.int("buckets")))

  /** Snapshot validity is verified against STORAGE at every serve, not
    * trusted from instance memory: the snapshot manifest records the
    * generation, the event manifest's `lvseq` it was built against, and
    * the earliest FUTURE valid-time boundary per iid-bucket. A serve
    * re-checks them, plus an empty event backlog — so a write from ANY
    * instance over the same root (not just this one) invalidates, and a
    * fresh instance can keep serving a still-valid snapshot across
    * restarts. The expiry guards VALID-TIME transitions: `current` is a
    * moving point, and a put whose valid_from/valid_to lies in the future
    * changes the current state with no write happening. The in-memory
    * set is only a negative cache of tables known to have no snapshot
    * (avoids a meta-file stat per query on never-compacted tables); it is
    * only ever ADDED TO on a miss and cleared by compact, so it can never
    * hold a stale "valid". */
  private val noSnapshot =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Snapshot manifest (format `"v":2`): the declared-layout current-state
    * snapshot is maintained INCREMENTALLY ([[foldSnapshot]]) — validity
    * is structural (generation + manifest lvseq + empty backlog), the
    * `watermark` records the highest `_system_from` incorporated, and
    * `files` is the live per-bucket file list (copy-on-write: a fold
    * writes the touched buckets into `_cs<seq+1>` and `retired` leases
    * the replaced files for one cycle; [[compact]] starts a generation's
    * snapshot at `_cs0`). `bmins` holds the per-iid-bucket FUTURE
    * valid-time boundary minimum, keyed at the EVENT log's fanout `bfan`
    * (always the generation's manifest fanout): the global expiry is
    * `min(bmins)`, and after a boundary crossing only the buckets whose
    * stored min actually passed need re-scanning — the expiry recompute
    * is metadata-driven instead of an O(event-log) scan. */
  private[graft] final case class SnapMeta2(gen: Int, lvseq: Int,
      watermark: Long, expires: Long, key: String, buckets: Int, seq: Int,
      files: Seq[String], retired: Seq[String],
      bfan: Int, bmins: Map[Int, Long])

  // snapshot manifest file entries are "relpath|length": the recorded
  // length lets the serve construct FileStatus objects with ZERO
  // filesystem calls (split planning and the parquet footer reader need
  // the length; the files are immutable once listed)
  private def snapEntry(relPath: String, len: Long): String =
    s"$relPath|$len"
  private def snapEntryPath(e: String): String =
    e.substring(0, e.lastIndexOf('|'))
  private def snapEntryLen(e: String): Long =
    e.substring(e.lastIndexOf('|') + 1).toLong

  private def snapMetaPath(table: String) =
    new org.apache.hadoop.fs.Path(s"${tableDir(table)}/_snapmeta.json")

  private def snapSchemaPath(table: String) =
    new org.apache.hadoop.fs.Path(s"${tableDir(table)}/_snapschema.json")

  private[graft] def readSnapMeta2(table: String): Option[SnapMeta2] =
    jsonSidecar(snapMetaPath(table)).map { j =>
      j.requireVersion(2)
      val files = j.strs("files")
      files.find(!_.matches(".+\\|\\d+")).foreach(e =>
        j.corrupt(s"file entry '$e' has no |length"))
      SnapMeta2(j.int("gen"), j.int("lvseq"), j.long("wm"),
        j.long("expires"), j.str("key"), j.int("buckets"), j.int("seq"),
        files, j.strs("retired"), j.int("bfan"),
        j.pairs("bmins").map { case (b, v) => j.toInt(b) -> j.toLong(v) }
          .toMap)
    }

  private[graft] def writeSnapMeta2(table: String, m: SnapMeta2): Unit = {
    require((m.files ++ m.retired)
        .forall(n => !n.exists(c => c == '"' || c == '\\' || c == '\n')),
      "snapshot manifest entries must be plain relative paths")
    require(!m.key.contains("\""), "layout key is validated at declare")
    val json = s"""{"v":2,"gen":${m.gen},"lvseq":${m.lvseq},""" +
      s""""wm":${m.watermark},"expires":${m.expires},""" +
      s""""key":"${m.key}","buckets":${m.buckets},"seq":${m.seq},""" +
      s""""files":${jsonArr(m.files)},"retired":${jsonArr(m.retired)},""" +
      s""""bfan":${m.bfan},"bmins":${jsonArr(
        m.bmins.toSeq.sortBy(_._1).map { case (b, v) => s"$b:$v" })}}"""
    writeSidecar(snapMetaPath(table), json)
  }

  private def writeSnapSchema(table: String, st: StructType): Unit =
    writeSidecar(snapSchemaPath(table), st.json)

  private def loadSnapSchema(table: String): Option[StructType] =
    schemaSidecar(snapSchemaPath(table))

  /** Write the resolved current state bucketed by the declared key into
    * the current generation dir (underscore prefix keeps it invisible to
    * the event-log parquet listing; it is swept with its generation) and
    * persist the snapshot manifest (generation + manifest lvseq +
    * per-bucket valid-time expiry + layout) that every serve re-verifies.
    * Called only by [[compact]], right after its generation commit: the
    * `_cs0` dir is in a fresh generation dir, and the previous snapshot's
    * files leave with the previous generation. */
  private def materializeCurrentSnapshot(table: String,
      l: TableLayout): Unit = {
    val ev = cachedResolvedEvMeta(table)
      .filter(_.gen == currentGen(table).getOrElse(0))
      .getOrElse(throw new IllegalStateException(
        s"snapshot of '$table': no event manifest for the current " +
          "generation"))
    val cur = Bitemporal.resolve(events(table),
      Bitemporal.TemporalSpec.Current, Bitemporal.TemporalSpec.Current)
    require(cur.columns.contains(l.key),
      s"declared layout key '${l.key}' is not a column of $table " +
        s"(${cur.columns.mkString(", ")})")
    val relDir = "_cs0"
    val dir = s"${dataDir(table)}/$relDir"
    // the boundary reference point is taken BEFORE the snapshot write:
    // an event activating between this stamp and the write's own
    // `current_timestamp()` is then counted as an (already-passed)
    // expiry, so the snapshot conservatively refuses itself rather than
    // race the clock
    val nowTs = microsToTs(nowMicros())
    writeBucketedFiles(cur, dir, l.buckets, l.key)
    // earliest FUTURE valid-time boundary across live events: once the
    // clock passes it, the current state changes without a write and the
    // snapshot must stop serving (the q-fixture: a put valid-from
    // tomorrow). Kept PER IID-BUCKET (round 15) so a later crossing
    // re-scans only the buckets whose boundary actually passed.
    val rows = events(table)
      .groupBy(pmod(hash(col(IID)), lit(ev.buckets)).cast("int").as("bk"))
      .agg(least(
        min(when(col(VF) > lit(nowTs), col(VF))),
        min(when(col(VT) > lit(nowTs), col(VT)))).as("b"),
        max(col(SF)).as("wm"))
      .collect()
    val bmins = rows.flatMap(r =>
      if (r.isNullAt(1)) None
      else Some(r.getInt(0) -> tsMicros(r.getTimestamp(1))))
      .toMap
    val watermark = rows.flatMap(r =>
      if (r.isNullAt(2)) None
      else Some(tsMicros(r.getTimestamp(2))))
      .foldLeft(0L)(math.max)
    val files = hadoopFs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(f => snapEntry(s"$relDir/${f.getPath.getName}", f.getLen)).toSeq
    writeSnapSchema(table, cur.schema)
    writeSnapMeta2(table, SnapMeta2(ev.gen, ev.lvseq, watermark,
      if (bmins.isEmpty) Long.MaxValue else bmins.values.min,
      l.key, l.buckets, 0, files, Nil, ev.buckets, bmins))
    noSnapshot.remove(table)
  }

  private def microsToTs(us: Long): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
      Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))

  private def tsMicros(t: java.sql.Timestamp): Long = {
    val i = t.toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  private def nowMicros(): Long =
    tsMicros(java.sql.Timestamp.from(java.time.Instant.now()))

  /** Delete each of `names` under `dir`; return those that still exist
    * (a lease keeps listing them until a later sweep takes them). */
  private def deleteSurvivors(dir: String, names: Iterable[String],
      recursive: Boolean): Seq[String] = {
    val fs = hadoopFs
    names.toSeq.filter { n =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$n")
      try { fs.delete(p, recursive); fs.exists(p) }
      catch { case scala.util.control.NonFatal(_) => fs.exists(p) }
    }
  }

  /** Fold the event-log delta into the declared-layout SNAPSHOT —
    * bucket-locally by declared key, never O(snapshot) in the point/CDC
    * regime. The delta (every event above the snapshot watermark) and
    * any crossed valid-time boundary name the changed iids; their new
    * current rows are resolved from those iids' event-log BUCKETS,
    * pruned before the relation is built. The event log is the one
    * resolve input that is right on its own: a crossed boundary's new
    * winner may be a pre-watermark event, in neither the snapshot nor
    * the delta. Only the buckets changed ids' key values hash into are
    * rewritten copy-on-write (reference analogue: the compactor keeps L1
    * current per partition continuously, compactor/Compactor.kt). Runs
    * after every event fold, so a large declared table returns to
    * zero-exchange key joins at the SAME cadence the event log returns
    * to zero-exchange iid serving — not only at full compactions. */
  private def foldSnapshot(table: String): Unit = layoutOf(table) match {
    case None => ()
    case Some(l) =>
      XtDb.writePointHook(WritePoint.Fold(table))
      readSnapMeta2(table) match {
      case None => () // no snapshot yet: the next full compact builds it
      case Some(sm0) =>
        if (sm0.key != l.key || sm0.buckets != l.buckets) return
        val s = liveFileSets(table).getOrElse(return)
        if (s.meta.gen != sm0.gen || s.backlog.nonEmpty) return
        // a snapshot is built against its generation's event fanout
        if (sm0.bfan != s.meta.buckets)
          corruptSidecar(snapMetaPath(table), "bfan is not the event fanout",
            s"bfan=${sm0.bfan}, fanout=${s.meta.buckets}")
        val now = nowMicros()
        val expired = now >= sm0.expires
        val dd = dataDir(table)
        // one-cycle lease sweep of previously retired snapshot files
        val retiredCarry = deleteSurvivors(dd, sm0.retired, recursive = false)
        val sm = sm0.copy(retired = retiredCarry)
        val wmTs = microsToTs(sm.watermark)
        val nowTs = microsToTs(now)
        val live = s.base ++ s.levelFiles
        val evFan = s.meta.buckets
        def filesOfBuckets(bks: Set[Int]) =
          live.filter(f => bks.contains(bucketIdOf(f.getPath.getName)))
        val delta = if (s.levelFiles.isEmpty) None
          else Some(explicitRead(table, s.levelFiles)
            .filter(col(SF) > lit(wmTs)))
        // a CROSSED valid-time boundary changed ids with no event above
        // the watermark — but the activation IS event-addressed: every
        // event whose _valid_from/_valid_to lies in [expires, now]
        // flipped current-ness, and it lives in a bucket whose stored
        // per-bucket boundary minimum has passed. One pushed-range scan
        // over ONLY those buckets' files names the ids.
        val crossedBuckets: Set[Int] =
          if (!expired) Set.empty
          else sm.bmins.filter(_._2 <= now).keySet
        val boundaryIds: Option[DataFrame] =
          if (!expired) None
          else {
            val lo = microsToTs(sm.expires)
            val bFiles = filesOfBuckets(crossedBuckets)
            if (bFiles.isEmpty) None
            else Some(bucketedRelation(table, bFiles, evFan).filter(
                (col(VF) >= lit(lo) && col(VF) <= lit(nowTs)) ||
                (col(VT) >= lit(lo) && col(VT) <= lit(nowTs)))
              .select(col(IID)))
          }
        // ONE job over the delta yields emptiness, the new watermark,
        // the per-bucket boundary mins AND the per-bucket changed-id
        // counts — so in the common non-crossing path the changed-count
        // job does not run separately (the fold's constant is driver job
        // count at small deltas — keep it minimal).
        val deltaRows: Array[org.apache.spark.sql.Row] = delta
          .map(_.groupBy(pmod(hash(col(IID)), lit(evFan)).cast("int")
              .as("bk"))
            .agg(max(col(SF)).as("wm"),
              least(min(when(col(VF) > lit(nowTs), col(VF))),
                min(when(col(VT) > lit(nowTs), col(VT)))).as("b"),
              countDistinct(col(IID)).as("cnt"))
            .collect())
          .getOrElse(Array.empty)
        val deltaEmpty = deltaRows.isEmpty
        if (deltaEmpty && !expired) {
          // nothing new (e.g. a purge bumped lvseq): re-stamp validity
          writeSnapMeta2(table, sm.copy(lvseq = s.meta.lvseq))
          noSnapshot.remove(table)
          return
        }
        val newWm = math.max(sm.watermark, deltaRows
          .flatMap(r => if (r.isNullAt(1)) None
            else Some(tsMicros(r.getTimestamp(1))))
          .foldLeft(0L)(math.max))
        // per-bucket boundary-min maintenance, O(delta) in the common
        // path: an existing event's boundary only leaves the future set
        // at a CROSSING (handled by the crossed-bucket recompute) or a
        // purge (leaves a stale-early min, which at worst expires the
        // snapshot early and the crossing recompute heals it — safe), so
        // a fold only needs to MERGE the delta's own per-bucket mins
        // into the carried map — never re-scan whole buckets.
        def perBucketMins(df: DataFrame): Map[Int, Long] = df
          .groupBy(pmod(hash(col(IID)), lit(evFan)).cast("int").as("bk"))
          .agg(least(
            min(when(col(VF) > lit(nowTs), col(VF))),
            min(when(col(VT) > lit(nowTs), col(VT)))).as("b"))
          .collect()
          .flatMap(r => if (r.isNullAt(1)) None
            else Some(r.getInt(0) -> tsMicros(r.getTimestamp(1))))
          .toMap
        lazy val deltaMins: Map[Int, Long] = deltaRows
          .flatMap(r => if (r.isNullAt(2)) None
            else Some(r.getInt(0) -> tsMicros(r.getTimestamp(2))))
          .toMap
        // `bks` = buckets whose carried min must be re-derived from their
        // FILES (a crossing consumed it); everything else carries, with
        // the delta's mins folded in bucket-wise
        def rebucketedMins(bks: Set[Int]): (Long, Map[Int, Long]) = {
          val files = filesOfBuckets(bks)
          val fresh =
            if (files.isEmpty) Map.empty[Int, Long]
            else perBucketMins(bucketedRelation(table, files, evFan))
          val merged = deltaMins.foldLeft((sm.bmins -- bks) ++ fresh) {
            case (m, (b, v)) =>
              // recomputed buckets' files already include the delta
              if (bks.contains(b)) m
              else m.updated(b, math.min(m.getOrElse(b, Long.MaxValue), v))
          }
          (if (merged.isEmpty) Long.MaxValue else merged.values.min, merged)
        }
        val changed0 = (delta.filterNot(_ => deltaEmpty).toSeq ++
            boundaryIds.toSeq)
          .map(_.select(col(IID)))
          .reduceOption(_.unionByName(_))
          .map(_.distinct())
          .getOrElse {
            // expired but the boundary event is gone (purged/erased):
            // just re-stamp with the recomputed expiry
            val (e2, m2) = rebucketedMins(crossedBuckets)
            writeSnapMeta2(table, sm.copy(lvseq = s.meta.lvseq,
              expires = e2, bmins = m2))
            noSnapshot.remove(table)
            return
          }
        val changed = changed0
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // per-iid-bucket changed-id counts: when the changed set IS
          // the delta's id set (no boundary crossing in play — the
          // common path) the histogram already rode the delta-aggregate
          // job (`cnt` per bucket, exact: buckets partition iids); only
          // a crossing runs the separate distinct-count job over the
          // delta ∪ boundary union.
          val changedByBucket: Array[(Int, Long)] =
            if (boundaryIds.isEmpty && delta.isDefined) {
              graft.tools.EngineMetrics.foldChangedFromDelta
                .incrementAndGet()
              deltaRows.map(r => (r.getInt(0), r.getLong(3)))
            } else {
              graft.tools.EngineMetrics.foldChangedRecomputes
                .incrementAndGet()
              changed
                .groupBy(pmod(hash(col(IID)), lit(evFan)).cast("int")
                  .as("b"))
                .count().collect()
                .map(r => (r.getInt(0), r.getLong(1)))
            }
          val changedCount = changedByBucket.map(_._2).sum
          if (changedCount == 0) {
            val (e2, m2) = rebucketedMins(crossedBuckets)
            writeSnapMeta2(table, sm.copy(lvseq = s.meta.lvseq,
              watermark = newWm, expires = e2, bmins = m2))
            noSnapshot.remove(table)
            return
          }
          // the changed ids hash to KNOWN iid-buckets: the resolve input
          // is pruned to exactly those buckets' files BEFORE the relation
          // is built — the common-path fold reads O(changed buckets),
          // never O(event log). A uniform delta touches every bucket and
          // reads the whole live set.
          val resolveFiles = filesOfBuckets(
            changedByBucket.iterator.map(_._1).toSet)
          graft.tools.EngineMetrics.lastFoldResolveFiles =
            resolveFiles.map(_.getPath.getName)
          graft.tools.EngineMetrics.lastFoldLiveFileCount = live.size
          // broadcast the changed set while it fits Spark's own broadcast
          // threshold (`_iid` is 32-char md5 hex; -1 = never): a huge
          // delta degrades to a shuffle semi-join, never to a failed or
          // OOM broadcast that silently stalls snapshot freshness
          val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
          val changedSide =
            if (threshold >= 0 && changedCount * 32L <= threshold)
              broadcast(changed)
            else changed
          val evChanged = bucketedRelation(table, resolveFiles, evFan)
            .join(changedSide, Seq(IID), "left_semi")
          val newCur = Bitemporal.resolve(evChanged,
            Bitemporal.TemporalSpec.Current,
            Bitemporal.TemporalSpec.Current)
          // every bucket ANY version of a changed id's key hashes into —
          // superset of {old bucket, new bucket}, so key-value moves and
          // deletions both land; Spark's own bucket function, matching
          // the writer's file stamps
          val touched = evChanged
            .select(pmod(hash(col(l.key)), lit(l.buckets)).cast("int")
              .as("b"))
            .distinct().collect().map(_.getInt(0)).toSet
          val snapSchema = loadSnapSchema(table).getOrElse(newCur.schema)
          val (oldTouched, untouched) = sm.files.partition(n =>
            touched.contains(bucketIdOf(snapEntryPath(n).split('/').last)))
          val keep =
            if (oldTouched.isEmpty)
              spark.createDataFrame(
                new java.util.ArrayList[org.apache.spark.sql.Row](),
                snapSchema)
            else spark.read.schema(snapSchema)
              .parquet(oldTouched.map(n => s"$dd/${snapEntryPath(n)}"): _*)
              .join(changedSide, Seq(IID), "left_anti")
          val lub = DynamicSchema.mergeSchemas(snapSchema, newCur.schema)
          val merged = DynamicSchema.conform(keep, lub)
            .unionByName(DynamicSchema.conform(newCur, lub),
              allowMissingColumns = true)
          val outDir = s"_cs${sm.seq + 1}"
          writeBucketedFiles(merged, s"$dd/$outDir", l.buckets, l.key)
          val newFiles = hadoopFs
            .listStatus(new org.apache.hadoop.fs.Path(s"$dd/$outDir"))
            .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
            .map(f => snapEntry(s"$outDir/${f.getPath.getName}", f.getLen))
            .toSeq
          val (newExpires, nbmins) = rebucketedMins(crossedBuckets)
          writeSnapSchema(table, lub)
          writeSnapMeta2(table, SnapMeta2(sm.gen, s.meta.lvseq, newWm,
            newExpires, l.key, l.buckets, sm.seq + 1,
            untouched ++ newFiles,
            retiredCarry ++ oldTouched.map(snapEntryPath),
            evFan, nbmins))
          noSnapshot.remove(table)
        } finally changed.unpersist()
      }
  }

  /** The bucketed current-state snapshot, iff STORAGE still vouches for
    * it. Validity is STRUCTURAL: same generation, same manifest
    * lvseq (every fold/purge re-stamps it), empty backlog (so a write
    * from ANY instance invalidates), declared layout unchanged, no
    * future valid-time boundary crossed — and serving is catalog-free
    * (explicit-file bucketed relation on the declared key), so a fresh
    * session/instance serves a still-valid snapshot straight from
    * storage. Callers fall back to live resolution on None; a snapshot
    * manifest in an unknown format throws.
    *
    * It serves only a snapshot whose watermark (the highest
    * `_system_from` folded in) is at or before `basis`, the reading
    * statement's token: a snapshot rematerialized after the token would
    * show that statement state its other tables, read at the token, do
    * not have. */
  def currentSnapshotIfValid(table: String,
      basis: java.sql.Timestamp = snapshotToken()): Option[DataFrame] = {
    if (noSnapshot.contains(table)) return None
    val basisMicros = tsMicros(basis)
    readSnapMeta2(table) match {
      case Some(m) =>
        val layoutOk = layoutOf(table)
          .exists(l => l.key == m.key && l.buckets == m.buckets)
        if (!layoutOk || nowMicros() >= m.expires ||
            m.watermark > basisMicros) None
        else liveFileSets(table) match {
          case Some(s) if s.meta.gen == m.gen &&
              s.meta.lvseq == m.lvseq && s.backlog.isEmpty =>
            val dd = dataDir(table)
            // zero-RPC serve: length from the manifest (immutable
            // files), mtime immaterial to split/footer reading
            val files = m.files.map(n =>
              new org.apache.hadoop.fs.FileStatus(snapEntryLen(n), false,
                1, 128L * 1024 * 1024, 0L,
                new org.apache.hadoop.fs.Path(s"$dd/${snapEntryPath(n)}")))
            loadSnapSchema(table).map(st =>
              bucketedRelationFor(files, m.buckets, m.key, st,
                sortCols = Seq(m.key)))
          case _ => None
        }
      case None => noSnapshot.add(table); None
    }
  }

  /** Uncompacted backlog of `table`: LIVE flat append files not yet
    * folded into the bucketed set (the current generation only — a
    * superseded generation kept for in-flight readers is storage debt,
    * not lag). Computed by the SAME rule the read path uses: visible
    * root `.parquet` files that are neither bucket-named nor consumed
    * (a never-compacted table's first part is a table, the rest is
    * consolidation debt). Metadata-only FS listing — the measure the
    * healthz surface and the auto-compaction trigger share. */
  def blockLag(table: String): Long = {
    val fs = hadoopFs
    val dir = new org.apache.hadoop.fs.Path(dataDir(table))
    if (!fs.exists(dir)) return 0L
    liveFileSets(table) match {
      case Some(s) => s.backlog.size.toLong
      case None =>
        math.max(0L, listRootParquet(table)
          .count(f => !isBucketFile(f.getPath.getName)).toLong - 1L)
    }
  }

  /** Maintenance cycles since the oldest UNPURGED erase entered this
    * table's log (0 = none pending) — the operator-visible GDPR clock;
    * the purge fires when it reaches `spark.graft.erasePurge.maxCycles`.
    * Metadata-only (one manifest read). */
  def erasePendingCycles(table: String): Int =
    cachedResolvedEvMeta(table).filter(_.gen == currentGen(table).getOrElse(0))
      .map(_.eraseCycles).getOrElse(0)

  /** Storage-maintenance observability for the healthz/metrics plane:
    * (backlog files, live level dirs, generation, bucket fanout). All
    * metadata-only listings — the same measures the maintenance policy
    * itself reads. */
  def storageStats(table: String): (Long, Int, Int, Int) = {
    val lag = blockLag(table)
    cachedResolvedEvMeta(table)
      .filter(_.gen == currentGen(table).getOrElse(0)) match {
      case Some(m) => (lag, m.levels.size, m.gen, m.buckets)
      case None => (lag, 0, currentGen(table).getOrElse(0), 0)
    }
  }

  /** The reference compactor's TRIGGER + LEVEL policy (Compactor.kt wakes
    * as level-0 files accumulate; SegmentMerge merges only tries touched
    * by new level-0 files) as one engine call. When the backlog exceeds
    * `maxLag`:
    *  - a table with no bucketed base yet, or one whose live bytes are
    *    under `spark.graft.fullCompact.smallBytes` (default 256 MB — a
    *    rewrite there costs less than the bookkeeping), takes the FULL
    *    [[compact]]: erase purge, derived bucket fanout, snapshot
    *    materialization;
    *  - a LARGE table takes [[compactIncremental]] — O(backlog), never
    *    O(table) — and only escalates to the full rewrite once the
    *    accumulated level bytes reach `spark.graft.fullCompact.ratio`
    *    (default 0.2) of the base, i.e. geometrically: lifetime write
    *    amplification is O(1/ratio) per byte instead of the pre-round-13
    *    O(table/maxLag) per byte.
    * A generation whose manifest names an older one (a crash between a
    * rewrite's pointer flip and its manifest write) counts as lagged and
    * takes the full [[compact]], which re-stamps it.
    * Returns whether any compaction ran — a freshly-folded table has lag
    * 0, so callers get idempotence for free. */
  def compactIfLagged(table: String, maxLag: Int = 5): Boolean = {
    val maxEraseCycles = spark.conf
      .get("spark.graft.erasePurge.maxCycles", "8").toInt
    def genMeta = cachedResolvedEvMeta(table)
      .filter(_.gen == currentGen(table).getOrElse(0))
    def eraseOverdue = maxEraseCycles > 0 &&
      genMeta.exists(_.eraseCycles >= maxEraseCycles)
    // a generation without its manifest (a crash after a rewrite's
    // pointer flip) is lagged at once: until re-stamped it serves flat,
    // and the superseded dir keeps any erased payload past the purge bound
    val meta = genMeta
    val unstamped = meta.isEmpty && currentGen(table).isDefined
    val lagged = unstamped || blockLag(table) > maxLag
    if (!lagged && !eraseOverdue) {
      // a maintenance heartbeat with nothing to fold is still a CYCLE:
      // the erase clock ticks (the purge-latency bound holds on tables
      // whose ingest stops right after the erase) and expired leases are
      // swept (a purge's superseded payload files must not outlive their
      // one-cycle lease on an idle table). One tiny manifest PUT.
      val (hb, hbVer) = resolvedEvMetaV(table)
      hb.filter(_.gen == currentGen(table).getOrElse(0))
        .filter(m => m.eraseCycles > 0 || m.consumed.nonEmpty ||
          m.retired.nonEmpty || m.excluded.nonEmpty || m.sweepDirs.nonEmpty)
        .foreach { m =>
          val swept = sweepLeases(table, m)
          writeEvMeta(table, swept.copy(eraseCycles =
            if (m.eraseCycles > 0) m.eraseCycles + 1 else 0), hbVer)
        }
      // the snapshot's retired files get the same one-cycle lease sweep
      // (they may hold erased payload), and an EXPIRED declared-layout
      // snapshot revives on the heartbeat: the boundary activation is
      // event-addressed (see foldSnapshot), so idle tables don't wait
      // for the next write or full compact
      readSnapMeta2(table).foreach { sm =>
        maintenance(s"snapshot heartbeat of '$table'",
            "live resolution serves") {
          val carry = deleteSurvivors(dataDir(table), sm.retired,
            recursive = false)
          if (carry != sm.retired)
            writeSnapMeta2(table, sm.copy(retired = carry))
          if (layoutOf(table).isDefined && nowMicros() >= sm.expires) {
            if (blockLag(table) > 0) compactIncremental(table)
            else foldSnapshot(table)
          }
        }
      }
      return false
    }
    val smallBytes = spark.conf
      .get("spark.graft.fullCompact.smallBytes",
        (256L * 1024 * 1024).toString).toLong
    val hasBase = meta.isDefined
    if (!hasBase || liveEventBytes(table) <= smallBytes) compact(table)
    else {
      if (lagged) compactIncremental(table)
      val ratio = spark.conf
        .get("spark.graft.fullCompact.ratio", "0.2").toDouble
      val escalate = liveFileSets(table).exists { s =>
        val baseBytes = math.max(1L, s.base.map(_.getLen).sum)
        s.levelFiles.map(_.getLen).sum >= ratio * baseBytes
      }
      if (escalate) compact(table)
      else if (eraseOverdue) {
        // the purge clock ran out without a geometric escalation: run
        // the bucket-local purge (fold any stray backlog first so every
        // erase is bucket-addressed)
        if (blockLag(table) > 0) compactIncremental(table)
        purgeErasedBuckets(table)
        ()
      }
    }
    true
  }

  /** Incremental (bucket-level) compaction — the reference's level-wise
    * trie merge (Compactor.kt / SegmentMerge.kt) on the bucketed layout:
    * shuffle ONLY the appended backlog into a new bucketed LEVEL dir
    * (`_lv<k>`, hidden from directory listings; one file per touched
    * `_iid` bucket at the base's fanout) and commit it with one atomic
    * manifest PUT. The base bucket files are NEVER read or rewritten —
    * cost is O(backlog), so a constant-size backlog folds in constant
    * time at any table size (BASELINE.md round-13 table). Erase events
    * ride the levels and keep masking at read; their PHYSICAL purge (the
    * GDPR guarantee) happens at the next full [[compact]], which is also
    * when levels fold into a fresh base generation.
    *
    * Level growth is bounded: once `spark.graft.maxLevels` (default 8)
    * levels exist, the fold merges backlog + all levels into ONE new
    * level (O(levels), still never the base). Superseded level dirs and
    * consumed backlog files are kept for one cycle (the lazy-by-one read
    * lease, same depth as the generation GC) and deleted on the next
    * fold. Single-writer, like every other write path here.
    *
    * Returns true if a fold ran; falls back to the full [[compact]] when
    * no bucketed base exists yet. */
  def compactIncremental(table: String): Boolean = {
    if (!tableExists(table)) return false
    val (m0, mver) = resolvedEvMetaV(table)
    val m = m0 match {
      case Some(mm) if currentGen(table).getOrElse(0) == mm.gen => mm
      case _ => compact(table); return true
    }
    val swept = sweepLeases(table, m)
    val consumedCarry = swept.consumed
    val retiredCarry = swept.retired
    val excludedCarry = swept.excluded
    val backlog = listRootParquet(table).filterNot(f =>
      isBucketFile(f.getPath.getName) ||
        consumedCarry.contains(f.getPath.getName))
    val maxLevels = spark.conf.get("spark.graft.maxLevels", "8").toInt
    val mergeLevels = m.levels.size >= maxLevels
    // every invocation is a maintenance cycle: a pending erase clock ticks
    def tick(e: Int): Int = if (e > 0) e + 1 else 0
    if (backlog.isEmpty && !mergeLevels) {
      writeEvMeta(table, m.copy(consumed = consumedCarry,
        retired = retiredCarry, eraseCycles = tick(m.eraseCycles),
        excluded = excludedCarry), mver)
      return false
    }
    val input = backlog ++
      (if (mergeLevels)
        m.levels.flatMap(levelParquet(table, _)).filterNot(f =>
          excludedCarry.contains(relUnderData(table, f)))
       else Nil)
    if (input.isEmpty) {
      writeEvMeta(table, m.copy(consumed = consumedCarry,
        retired = retiredCarry, eraseCycles = tick(m.eraseCycles),
        excluded = excludedCarry), mver)
      return false
    }
    // a PURE level merge (no backlog) reads only bucketed inputs — the
    // aligned writer skips the repartition entirely (zero exchange; at
    // scale the level merge is otherwise a shuffle of all level bytes)
    val alignedMerge = backlog.isEmpty
    // start (or advance) the purge clock: an erase folding INTO the
    // levels right now is physically on disk until a purge runs — one
    // pushed-predicate existence probe over the O(backlog) input
    val folding =
      if (alignedMerge) bucketedRelation(table, input, m.buckets)
      else explicitRead(table, input)
    // erase addressing (round 15): any erase event entering a level is
    // recorded in the manifest by BUCKET id + max system-time, so the
    // purge reads only affected buckets and can check the snapshot
    // watermark without a discovery scan. The existence probe is a
    // pushed-predicate limit-1 over the O(backlog) input (near-free when
    // no erase is pending — the common case); the full agg runs only
    // when one exists.
    val hasErase = !folding.where(col(OP) === "erase").isEmpty
    val (foldEraseBks, foldEraseSf) =
      if (!hasErase) (Set.empty[Int], 0L)
      else {
        val r = folding.where(col(OP) === "erase")
          .agg(collect_set(
            pmod(hash(col(IID)), lit(m.buckets)).cast("int")).as("bk"),
            max(col(SF)).as("sf")).head()
        (r.getSeq[Int](0).toSet,
          if (r.isNullAt(1)) 0L else tsMicros(r.getTimestamp(1)))
      }
    val pending =
      if (m.eraseCycles > 0) m.eraseCycles + 1
      else if (hasErase) 1
      else 0
    // uniqueness suffix: two RACING folds (cross-instance) must never
    // share an output dir — the CAS commit picks one winner, and the
    // loser's orphan dir stays hidden (underscore) until the next flip
    val lvName = s"_lv${m.lvseq}_" +
      java.util.UUID.randomUUID().toString.take(8)
    writeBucketedFiles(folding, s"${dataDir(table)}/$lvName", m.buckets,
      alreadyBucketed = alignedMerge)
    writeEvMeta(table, m.copy(
      levels = (if (mergeLevels) Nil else m.levels) :+ lvName,
      consumed = consumedCarry ++ backlog.map(_.getPath.getName),
      retired = retiredCarry ++ (if (mergeLevels) m.levels else Nil),
      lvseq = m.lvseq + 1, eraseCycles = pending,
      excluded = excludedCarry,
      eraseBuckets = m.eraseBuckets ++ foldEraseBks,
      eraseMaxSf = math.max(m.eraseMaxSf, foldEraseSf)), mver)
    // the declared-layout snapshot folds at the SAME cadence as the event
    // log (O(delta + touched buckets)); a failure here leaves the
    // snapshot refused (correct — live resolution serves), never fails
    // the committed event fold
    maintenance(s"snapshot fold of '$table'", "event fold is committed; " +
        "snapshot serves at the next fold/compact")(foldSnapshot(table))
    true
  }

  /** Lazy-by-one lease GC: the manifest's consumed/retired/excluded
    * entries were written a full maintenance cycle ago and have been out
    * of every manifest-resolved read since — delete them now; anything
    * that refuses to die stays listed (never re-read). Returns `m` with
    * only the survivors carried. Pure FS metadata work, no data scan. */
  private def sweepLeases(table: String, m: EvMeta): EvMeta = {
    val dd = dataDir(table)
    // erase-tainted superseded generations / legacy loose parts: swept at
    // the next cycle instead of the next generation flip (table-dir
    // relative; the live generation is never listed here by construction)
    val liveDir = currentGenDirName(table).getOrElse(s"g${m.gen}")
    m.copy(
      consumed = deleteSurvivors(dd, m.consumed, recursive = false).toSet,
      retired = deleteSurvivors(dd, m.retired.distinct, recursive = true),
      excluded = deleteSurvivors(dd, m.excluded, recursive = false).toSet,
      sweepDirs = deleteSurvivors(tableDir(table),
        m.sweepDirs.filterNot(_ == liveDir), recursive = true))
  }

  /** BUCKET-LOCAL physical purge of erased history — the GDPR guarantee
    * with BOUNDED latency and bounded cost (the reference merges per trie
    * partition, so its erase purge is likewise per-subtree —
    * compactor/Compactor.kt, PolygonCalculator.kt:43-46). Erased iids
    * hash to known buckets: merge ONLY those buckets' base+level files
    * (purged, zero exchange — [[writeBucketedFiles]]) into a new
    * purge-level dir, and supersede the replaced files via the
    * manifest's `excluded` list (deleted after the one-cycle lease).
    * Cost is O(affected buckets), not O(table); the table's generation,
    * untouched buckets, and serving posture are unchanged. Requires an
    * empty backlog (erases still in flat appends aren't bucket-addressed
    * yet) — [[compactIfLagged]] folds first. Returns true if a purge
    * ran. */
  def purgeErasedBuckets(table: String): Boolean = {
    val mver = readEvMetaV(table)._2
    val s = liveFileSets(table) match {
      case Some(s0) if s0.backlog.isEmpty => s0
      case _ => return false
    }
    val m = s.meta
    val live = s.base ++ s.levelFiles
    if (live.isEmpty) {
      if (m.eraseCycles > 0)
        writeEvMeta(table, m.copy(eraseCycles = 0,
          eraseBuckets = Set.empty, eraseMaxSf = 0L), mver)
      return false
    }
    // the erased iids' bucket ids + the newest erase's system-time. The
    // manifest already knows both (recorded at the erase append and at
    // every fold — round 15), so the common path runs NO discovery job.
    // The scan is the safety net for a pending clock with no addressing:
    // a schema-flip rewrite carries the clock into a new generation (at
    // a possibly different fanout) without any bucket ids.
    val (erased, maxEraseSf) =
      if (m.eraseBuckets.nonEmpty) {
        graft.tools.EngineMetrics.lastPurgeUsedManifest = true
        (m.eraseBuckets, m.eraseMaxSf)
      } else {
        graft.tools.EngineMetrics.lastPurgeUsedManifest = false
        val r = explicitRead(table, live)
          .where(col(OP) === "erase")
          .agg(collect_set(
            pmod(hash(col(IID)), lit(m.buckets)).cast("int")).as("b"),
            max(col(SF)).as("sf")).head()
        (r.getSeq[Int](0).toSet,
          if (r.isNullAt(1)) 0L else tsMicros(r.getTimestamp(1)))
      }
    if (erased.isEmpty) {
      if (m.eraseCycles > 0)
        writeEvMeta(table, m.copy(eraseCycles = 0,
          eraseBuckets = Set.empty, eraseMaxSf = 0L), mver)
      return false
    }
    // the purge is about to physically delete the erase markers — if
    // the declared-layout snapshot never folded them (an earlier fold
    // failure was swallowed), its watermark predates the erase and the
    // post-purge re-stamp would retain the erased payload in the
    // snapshot FOREVER. Fold while the markers are still
    // event-addressable; if the watermark still lags, drop the snapshot
    // (live resolution serves — correct) and let the next [[compact]]
    // rebuild it, rather than re-stamp a lie.
    if (maxEraseSf > 0L) readSnapMeta2(table)
      .filter(_.watermark < maxEraseSf).foreach { _ =>
        maintenance(s"pre-purge snapshot fold of '$table'",
          "a lagging snapshot is dropped")(foldSnapshot(table))
        if (readSnapMeta2(table).exists(_.watermark < maxEraseSf))
          invalidateSnapshot(table)
      }
    val affected = live.filter(f =>
      erased.contains(bucketIdOf(f.getPath.getName)))
    graft.tools.EngineMetrics.lastPurgeScannedFiles =
      affected.map(_.getPath.getName)
    val pgName = s"_lv${m.lvseq}_" +
      java.util.UUID.randomUUID().toString.take(8)
    writeBucketedFiles(
      purgeErased(bucketedRelation(table, affected, m.buckets)),
      s"${dataDir(table)}/$pgName", m.buckets, alreadyBucketed = true)
    // SUPERSEDED storage (older generations, legacy gen-0 loose parts)
    // may hold the erased payload from before earlier flips — it has
    // been out of live reads for at least one full cycle already, so it
    // joins the bounded sweep instead of waiting for a flip that an
    // idle table never reaches
    val fs = hadoopFs
    val liveDir = currentGenDirName(table).getOrElse("")
    val genName = """g(\d+)(?:_[0-9a-f]+)?""".r
    val superseded = fs
      .listStatus(new org.apache.hadoop.fs.Path(tableDir(table)))
      .collect {
        case st if st.isDirectory && st.getPath.getName != liveDir &&
            (st.getPath.getName match {
              case genName(n) => n.toInt <= m.gen
              case _ => false
            }) =>
          st.getPath.getName
        case st if st.isFile &&
            st.getPath.getName.endsWith(".parquet") && m.gen >= 1 =>
          st.getPath.getName
      }.toSeq
    writeEvMeta(table, m.copy(
      levels = m.levels :+ pgName,
      excluded = m.excluded ++ affected.map(relUnderData(table, _)),
      lvseq = m.lvseq + 1, eraseCycles = 0,
      sweepDirs = (m.sweepDirs ++ superseded).distinct,
      eraseBuckets = Set.empty, eraseMaxSf = 0L), mver)
    // the purge bumped lvseq without changing logical state — re-stamp
    // the snapshot's validity (and fold any straggler delta) so a big
    // declared table does not fall back to live joins over a purge. A
    // purged future boundary leaves a stale-early per-bucket min: at
    // worst the snapshot expires early and the crossing recompute heals
    // it
    maintenance(s"post-purge snapshot fold of '$table'",
      "purge is committed; live resolution serves")(foldSnapshot(table))
    true
  }

  /** Drop the snapshot manifest AND its data files (they may hold erased
    * payload — an invalidated snapshot must not leave orphans nothing
    * will ever sweep). Serving falls back to live resolution; the next
    * full compaction rebuilds. */
  private def invalidateSnapshot(table: String): Unit = {
    readSnapMeta2(table).foreach(sm => deleteSurvivors(dataDir(table),
      sm.files.map(snapEntryPath) ++ sm.retired, recursive = false))
    hadoopFs.delete(snapMetaPath(table), false)
    ()
  }

  /** Write `df` as a bucketed file set (one file per non-empty `key`
    * hash bucket, Spark bucket ids in the file names) into `dir`. An input
    * `alreadyBucketed` — hashed on `key` at `buckets`, like a bucketed
    * relation over base+level files — skips the repartition: the writer
    * only adds a local sort, so the write is zero-exchange and its one
    * partition per bucket yields one file per bucket. Goes through a
    * throwaway external-table registration because that is the only
    * writer Spark exposes for bucketed files; the registration is dropped
    * immediately (external ⇒ files stay) — serving never touches the
    * catalog. */
  private def writeBucketedFiles(df: DataFrame, dir: String,
      buckets: Int, key: String = IID,
      alreadyBucketed: Boolean = false): Unit = {
    val tmp = s"graft_bkw_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val in = if (alreadyBucketed) df else df.repartition(buckets, col(key))
    try
      in.write.mode("overwrite").option("path", dir)
        .bucketBy(buckets, key).sortBy(key)
        .saveAsTable(tmp)
    finally
      // drop even on a failed write — a half-registered throwaway name
      // must not accumulate in the session catalog (or a metastore)
      spark.sql(s"DROP TABLE IF EXISTS $tmp")
    ()
  }

  // ---- xt.txs system table (reference: `xt.txs`, information_schema.clj)
  //
  // Folded with the same generation machinery as the event log (What's
  // wrong r12 #2): every DML op appends one tiny parquet part into the
  // live tx-log generation (`_txs/_g<N>`, or the legacy `_txs` root);
  // once the part count crosses the fold threshold the whole live set is
  // consolidated into `_g<N+1>` (~128 MB output files), committed by one
  // atomic pointer PUT, and the generation BEFORE the superseded one is
  // deleted (lazy-by-one read lease, like the event-log GC). The
  // threshold scales with the consolidated size (fold only when the
  // appended tail rivals the base file count), so lifetime rewrite cost
  // is O(N log N), not O(N²/threshold) — and `xt.txs` reads plus every
  // listStatus stay bounded instead of degrading linearly with ingest.

  private def txsGenPath = new org.apache.hadoop.fs.Path(s"$root/_txs/_gen")

  private def txsGen: Option[Int] =
    readSidecar(txsGenPath).map(_.trim).map { s =>
      if (s.matches("\\d+")) s.toInt
      else corruptSidecar(txsGenPath, "expected <n>", s)
    }

  private def txsLiveDir: String = txsGen match {
    case Some(n) => s"$root/_txs/_g$n"
    case None => s"$root/_txs"
  }

  // the DML op already committed and logged: tx-log maintenance never
  // fails the write; the backlog just waits for the next trigger
  private def maybeFoldTxs(): Unit =
    maintenance("tx-log fold", "log intact")(foldTxs())

  private def foldTxs(): Unit = {
    val fs = hadoopFs
    val threshold =
      spark.conf.get("spark.graft.txsFoldThreshold", "64").toLong
    if (threshold <= 0) return
    val dir = new org.apache.hadoop.fs.Path(txsLiveDir)
    if (!fs.exists(dir)) return
    val files = fs.listStatus(dir).filter(st =>
      st.isFile && st.getPath.getName.endsWith(".parquet"))
    val totalBytes = files.map(_.getLen).sum
    // consolidated base ≈ ceil(bytes/128MB) files; fold only when the
    // appended tail dominates it (geometric spacing = amortized O(log N)
    // rewrites per row)
    val baseFiles = math.max(1L, totalBytes / (128L * 1024 * 1024))
    if (files.length <= math.max(threshold, 2L * baseFiles)) return
    val txsV = hadoopFs match {
      case c: graft.storage.VersionedPut => c.versionOf(txsGenPath)
      case _ => -1L
    }
    val cur = txsGen
    val next = cur.getOrElse(0) + 1
    spark.read.schema(XtDb.TxLogSchema).parquet(txsLiveDir)
      .coalesce(baseFiles.toInt)
      .write.mode("overwrite").parquet(s"$root/_txs/_g$next")
    conditionalPut(txsGenPath, next.toString, txsV,
      "tx-log generation pointer")
    // lazy-by-one GC: drop the generation BEFORE the one just superseded
    // (in-flight readers of the superseded one finish undisturbed)
    if (next >= 3)
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/_txs/_g${next - 2}"),
        true)
    if (next >= 2)
      // idempotent legacy-root sweep (not just at next==2): a crash
      // between the g2 pointer PUT and the sweep must not leak the loose
      // pre-fold parts forever — the listing is cheap and usually empty
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/_txs"))
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .foreach(st => fs.delete(st.getPath, false))
  }

  private def logTx(sysTime: java.sql.Timestamp, table: String, op: String,
      committed: Boolean, error: Option[String]): Unit = {
    import spark.implicits._
    Seq((sysTime.toInstant.toEpochMilli, sysTime, table, op, committed,
        error.orNull))
      .toDF("tx_id", "system_time", "tx_table", "tx_op", "committed", "error")
      .write.mode("append").parquet(txsLiveDir)
    maybeFoldTxs()
  }

  /** The `xt.txs` transaction-log table: one row per DML op, including
    * aborted ASSERTs. Read with the schema `logTx` writes, so no job runs
    * to infer it; empty before the first transaction. */
  def txs: DataFrame =
    systemLog(txsLiveDir, XtDb.TxLogSchema).orderBy("tx_id")

  /** A system log (`_txs`, `_roles`) read with the fixed schema its writer
    * uses: no job runs to infer it, and a log not yet written reads as
    * empty. Any other read failure propagates. */
  private def systemLog(dir: String, schema: StructType): DataFrame =
    if (hadoopFs.exists(new org.apache.hadoop.fs.Path(dir)))
      spark.read.schema(schema).parquet(dir)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** SQL UPDATE — plan = query producing new row versions, appended as puts
    * (reference prepareTxSql, query.clj:478-495): read the current
    * snapshot, filter, apply SET expressions, put. */
  private def applyUpdate(cur: DataFrame, where: Column,
      sets: Seq[(String, Column)]): DataFrame = {
    val payload = cur.columns
      .filterNot(c => Bitemporal.metaCols.contains(c) || c == Bitemporal.ST)
    sets.foldLeft(
        cur.filter(where).select((ID +: payload).map(col): _*)) {
      case (df, (c, e)) => df.withColumn(c, e)
    }
  }

  def update(table: String, where: Column,
      sets: Seq[(String, Column)],
      validFrom: Option[Column] = None,
      validTo: Option[Column] = None): java.sql.Timestamp =
    submitTx(Seq(TxOp.Update(table, where, sets, validFrom, validTo)))

  /** Tables materialised under this store's root (excluding `_`-prefixed
    * system dirs: _txs, _stats, _roles, _schemas). */
  def tables: Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(root)
    if (!hadoopFs.exists(p)) Nil
    else hadoopFs.listStatus(p).filter(_.isDirectory)
      .map(_.getPath.getName).filterNot(_.startsWith("_")).toSeq.sorted
  }

  /** ASSERT — `cond` must evaluate to a single true row or the transaction
    * aborts (recorded in xt.txs with committed = false); a passing one
    * commits an empty transaction. */
  def assertTx(cond: DataFrame, label: String = "ASSERT"): Unit = {
    submitTx(Seq(TxOp.Assert(label, _ => cond)))
    ()
  }

  /** `:put-docs` — docs must carry `_id` + payload columns. */
  def putDocs(table: String, docs: DataFrame,
      validFrom: Option[Column] = None,
      validTo: Option[Column] = None): java.sql.Timestamp =
    submitTx(Seq(TxOp.Put(table, docs, validFrom, validTo)))

  /** `:delete-docs` — logical delete over a valid-time range (defaults to
    * [now, unbounded)). */
  def deleteDocs(table: String, ids: DataFrame,
      validFrom: Option[Column] = None,
      validTo: Option[Column] = None): java.sql.Timestamp =
    submitTx(Seq(TxOp.Delete(table, ids, validFrom, validTo)))

  /** `:erase-docs` — physical erasure of the document's entire history
    * (reference PolygonCalculator.kt:43-46: post-erase, no events resolve). */
  def eraseDocs(table: String, ids: DataFrame): java.sql.Timestamp =
    submitTx(Seq(TxOp.Erase(table, ids)))

  /** `:patch-docs` — field-wise merge onto the current version (missing
    * fields keep their current values; reference `_patch` expression.clj:2095
    * + static expansion sql.clj:3503-3601). Patches are expanded to put
    * events at submit time. */
  def patchDocs(table: String, patches: DataFrame): java.sql.Timestamp =
    submitTx(Seq(TxOp.Patch(table, patches)))

  private def mergePatches(cur: DataFrame, patches: DataFrame): DataFrame = {
    val curPayload = cur.columns.filterNot(c => metaCols.contains(c) || c == ST)
    val patchPayload = patches.columns.filter(_ != ID)
    val allPayload = (curPayload ++ patchPayload).distinct.filter(_ != ID)
    val curRenamed = curPayload.foldLeft(cur.select((ID +: curPayload).map(col): _*)) {
      (df, c) => df.withColumnRenamed(c, s"__cur_$c")
    }
    val merged = patches
      .join(curRenamed, Seq(ID), "left")
      .select(col(ID) +: allPayload.map { c =>
        val hasCur = curPayload.contains(c)
        val hasPatch = patchPayload.contains(c)
        (if (hasCur && hasPatch) coalesce(col(c), col(s"__cur_$c"))
         else if (hasPatch) col(c)
         else col(s"__cur_$c")).as(c)
      }: _*)
    merged
  }

  /** PATCH with explicit valid-time bounds: gap-filling against the
    * versioned timeline (reference `:patch-gaps`, operator/patch.clj:28-57,
    * PatchGapsCursor.kt:85). Within [validFrom, validTo):
    *  - wherever a version already exists, a merged doc (existing fields,
    *    patch fields override) is put over the clipped overlap;
    *  - wherever NO version exists (gaps between/before/after rectangles),
    *    the patch fields alone become the document.
    * Versions outside the range are untouched (the new puts only supersede
    * within their own valid intervals). */
  def patchGaps(table: String, patches: DataFrame, validFrom: Column,
      validTo: Option[Column]): java.sql.Timestamp =
    submitTx(Seq(TxOp.Patch(table, patches, Some((validFrom, validTo)))))

  /** Build the put batch for a gap-filling PATCH: merged segments over
    * existing rectangles + patch-only rows over the gaps, all clipped to
    * [pvf, pvt). One window over `_id` (ordered by rectangle start) finds
    * the gaps; current-system rectangles are valid-time disjoint per id, so
    * lag(valid_to) vs valid_from bounds each gap exactly. */
  private def patchGapSegments(rects: DataFrame, patches: DataFrame,
      pvf0: Column, pvt0: Option[Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pvf = pvf0.cast("timestamp")
    val pvt = pvt0.getOrElse(lit(null)).cast("timestamp")
    val curPayload = rects.columns
      .filterNot(c => metaCols.contains(c) || c == ST || c == ID)
    val patchPayload = patches.columns.filter(_ != ID)
    val allPayload = (curPayload ++ patchPayload).distinct
    val curTypes = rects.schema.fields.map(f => f.name -> f.dataType).toMap
    // rectangles overlapping the patch range, for patched ids only
    val overlapping = rects
      .filter((col(VT).isNull || col(VT) > pvf) &&
        (pvt.isNull || col(VF) < pvt))
      .select(col(ID) +: col(VF).as("__cvf") +: col(VT).as("__cvt") +:
        curPayload.map(c => col(c).as(s"__cur_$c")): _*)
    val j = patches.join(overlapping, Seq(ID), "left")
    val w = Window.partitionBy(ID).orderBy(col("__cvf"))
    val wDesc = Window.partitionBy(ID).orderBy(col("__cvf").desc)
    val ranked = j
      .withColumn("__rn", row_number().over(w))
      .withColumn("__prev_vt", lag(col("__cvt"), 1).over(w))
      .withColumn("__is_last", row_number().over(wDesc) === 1)
    def mergedField(c: String): Column = {
      val hasCur = curPayload.contains(c)
      val hasPatch = patchPayload.contains(c)
      (if (hasCur && hasPatch) coalesce(col(c), col(s"__cur_$c"))
       else if (hasPatch) col(c)
       else col(s"__cur_$c")).as(c)
    }
    def patchOnlyField(c: String): Column =
      (if (patchPayload.contains(c)) col(c)
       else lit(null).cast(curTypes(c))).as(c)
    def out(df: DataFrame, fields: String => Column, vf: Column,
        vt: Column): DataFrame =
      df.select(col(ID) +: allPayload.map(fields) :+
        vf.cast("timestamp").as(VF) :+ vt.cast("timestamp").as(VT): _*)
    // merged segment per overlapped rectangle, clipped to the range
    val segs = out(ranked.filter(col("__cvf").isNotNull), mergedField,
      greatest(col("__cvf"), pvf),
      when(col("__cvt").isNull, pvt)
        .otherwise(when(pvt.isNull, col("__cvt"))
          .otherwise(least(col("__cvt"), pvt))))
    // gap before each rectangle: [max(prev_vt | range-start, pvf), cvf)
    val gapStart = greatest(
      when(col("__rn") === 1, pvf).otherwise(col("__prev_vt")), pvf)
    val gapsBefore = out(
      ranked.filter(col("__cvf").isNotNull && gapStart < col("__cvf")),
      patchOnlyField, gapStart, col("__cvf"))
    // tail gap after the last rectangle (only if it is valid-bounded)
    val tailStart = greatest(col("__cvt"), pvf)
    val gapsTail = out(
      ranked.filter(col("__is_last") && col("__cvt").isNotNull &&
        (pvt.isNull || tailStart < pvt)),
      patchOnlyField, tailStart, pvt)
    // ids with no overlapping rectangle at all: the whole range is a gap
    val gapsEmpty = out(ranked.filter(col("__cvf").isNull && col("__rn") === 1),
      patchOnlyField, pvf, pvt)
    segs.unionByName(gapsBefore).unionByName(gapsTail).unionByName(gapsEmpty)
  }

  /** Snapshot read — FOR VALID_TIME AS OF / FOR SYSTEM_TIME AS OF
    * (defaults: valid time now — reference scan.clj:307-310 default when no
    * temporal filter — and system time at the committed basis,
    * `least(snapshotToken(), now)`, so a transaction whose files have
    * landed but whose log record has not stays invisible). Erases resolve
    * at that basis whatever `systemAt` is, so a landed but unlogged erase
    * masks nothing. */
  def asOf(table: String,
      validAt: Option[Column] = None,
      systemAt: Option[Column] = None): DataFrame = {
    val basis = least(lit(snapshotToken()), current_timestamp())
    Bitemporal.asOf(events(table),
      validAt.getOrElse(current_timestamp()).cast("timestamp"),
      systemAt.getOrElse(basis).cast("timestamp"), basis)
  }

  /** FOR ALL VALID_TIME + ALL SYSTEM_TIME — full rectangle history. */
  def history(table: String): DataFrame =
    Bitemporal.history(events(table))

  /** Collect table statistics — row counts and HLL distinct-value
    * estimates per payload column — into the engine's stats catalog
    * (reference: per-table HLL/ndv metadata for join ordering,
    * indexer/HllCalculator.kt + trie metadata; Spark analogue of ANALYZE
    * TABLE feeding CBO). One pass over the current snapshot. */
  def analyzeTable(table: String): Unit = {
    import spark.implicits._
    val cur = Bitemporal.current(events(table))
    val payload = cur.columns
      .filterNot(c => Bitemporal.metaCols.contains(c) || c == Bitemporal.ST)
    val aggs = count(lit(1)).as("__n") +:
      payload.map(c => approx_count_distinct(col(c)).as(s"__ndv_$c"))
    val row = cur.agg(aggs.head, aggs.tail: _*).collect().head
    val n = row.getLong(0)
    val stats = payload.zipWithIndex.map { case (c, i) =>
      (table, c, n, row.getLong(i + 1))
    }.toSeq.toDF("table_name", "column_name", "row_count", "ndv")
    stats.write.mode("overwrite").parquet(s"$root/_stats/$table")
  }

  /** Read back collected statistics for a table (empty if never analyzed).
    */
  def tableStats(table: String): DataFrame =
    spark.read.parquet(s"$root/_stats/$table")

  /** CREATE TABLE — pre-declare a table with an explicit column DDL
    * ("a BIGINT, b STRING"). Registers the schema, then writes an empty
    * event-log part carrying the full meta schema so the table is
    * immediately queryable; later inserts LUB-merge onto it as usual. */
  def createTable(table: String, columnsDdl: String): Unit = {
    require(!tableExists(table), s"table $table already exists")
    val userSchema = StructType.fromDDL(columnsDdl)
    require(userSchema.fieldNames.contains(ID),
      s"CREATE TABLE $table: an _id column is required")
    val full = StructType(userSchema.fields ++ Seq(
      org.apache.spark.sql.types.StructField(IID,
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField(VF,
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField(VT,
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField(SF,
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField(SEQ,
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField(OP,
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField(BUCKET,
        org.apache.spark.sql.types.StringType)))
    saveSchema(table, full)
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), full)
      .write.parquet(tableDir(table))
  }

  /** COPY IN — bulk ingest a file/directory as one put transaction
    * (reference COPY … FROM STDIN arrow/csv path). Scale note: the read is
    * a distributed scan, the append is a distributed write — nothing
    * funnels through the driver. */
  def copyIn(table: String, path: String,
      format: Option[String] = None): java.sql.Timestamp =
    submitTx(Seq(TxOp.Put(table, copySource(path, format))))

  /** The docs of a COPY IN source file or directory, its format inferred
    * from the extension unless given (csv, json/jsonl, else parquet). */
  private[graft] def copySource(path: String,
      format: Option[String]): DataFrame = {
    val fmt = format.getOrElse {
      val lower = path.toLowerCase
      if (lower.endsWith(".csv")) "csv"
      else if (lower.endsWith(".json") || lower.endsWith(".jsonl")) "json"
      else "parquet"
    }
    val reader = spark.read
    (fmt match {
      case "csv" => reader.option("header", "true")
        .option("inferSchema", "true").format("csv")
      case other => reader.format(other)
    }).load(path)
  }

  // ---- role catalog (GRANT/REVOKE ROLE; reference Sql.g4 grant stmts +
  // pg_catalog role views). Records are append-only; the current grant set
  // is the latest action per (what, grantee).
  def recordGrant(grant: Boolean, what: String, grantee: String): Unit =
    synchronized {
      import spark.implicits._
      val at = nextSystemTime()
      Seq((at, if (grant) "grant" else "revoke", what, grantee))
        .toDF("at", "action", "what", "grantee")
        .write.mode("append").parquet(s"$root/_roles")
      publish(at)
    }

  private def rolesLog: DataFrame =
    systemLog(s"$root/_roles", XtDb.RolesLogSchema)

  /** Current grants: latest action per (what, grantee) is `grant`. */
  def roleGrants: DataFrame = roleGrantsAsOf(None)

  /** Membership as of a system time (reference #5683: REVOKE is a
    * system-time soft-close, so role history stays queryable as-of any
    * past system time — the log is append-only, resolution is
    * latest-action-≤-t per membership). */
  def roleGrantsAsOf(at: Option[java.sql.Timestamp]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("what", "grantee").orderBy(col("at").desc)
    val log = rolesLog
    at.map(t => log.filter(col("at") <= lit(t))).getOrElse(log)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("action") === "grant")
      .select("what", "grantee", "at")
  }

  /** Full membership history (user, role, granted, system_from) — the
    * audit face of the same log. */
  def roleMembershipHistory: DataFrame =
    rolesLog
      .select(col("grantee").as("user"), col("what").as("role"),
        (col("action") === "grant").as("granted"),
        col("at").as("system_from"))

  /** Storage-block debug table (reference block_tables.clj / log_tables
    * .clj): one row per physical file of a table's event log — bucket,
    * path, size. Metadata-only FS listing, no data scan. */
  def blocks(table: String): DataFrame = {
    import spark.implicits._
    val fs = hadoopFs
    val it = fs.listFiles(
      new org.apache.hadoop.fs.Path(tableDir(table)), true)
    val rows = scala.collection.mutable.Buffer[(String, String, Long)]()
    val bucketId = "_(\\d{5})(?:\\.c\\d+)?\\..*parquet$".r
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        // compacted files carry their `_iid` hash-bucket id in the Spark
        // bucketed-file name suffix; plain per-tx appends report ""
        val bucket = bucketId.findFirstMatchIn(f.getPath.getName)
          .map(_.group(1)).getOrElse("")
        rows += ((bucket, f.getPath.toString, f.getLen))
      }
    }
    rows.toSeq.toDF("bucket", "file", "size_bytes")
  }

  /** Export a snapshot of the whole database — event logs, schema
    * registry, tx log, stats and role catalog — into `destRoot`, which a
    * fresh `new XtDb(spark, destRoot)` opens with identical query results
    * (reference export/export-snapshot!: a file-level copy of the current
    * block's objects). File copies go through the Hadoop FS API, so the same call works on
    * object storage. Returns (tables, filesCopied). */
  def exportSnapshot(destRoot: String): (Int, Int) = synchronized {
    val fs = hadoopFs
    val src = new org.apache.hadoop.fs.Path(root)
    val dst = new org.apache.hadoop.fs.Path(destRoot)
    fs.mkdirs(dst)
    var files = 0
    var tableCount = 0
    fs.listStatus(src).foreach { st =>
      if (st.isDirectory && !st.getPath.getName.startsWith("_"))
        tableCount += 1
      org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
        new org.apache.hadoop.fs.Path(dst, st.getPath.getName),
        false, spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(st.getPath, true)
      while (it.hasNext) { it.next(); files += 1 }
    }
    (tableCount, files)
  }

  /** Stable snapshot token — the committed head: the system time of the
    * latest transaction whose log record has landed (reference basis /
    * snapshot-token, query.clj:142-164, 433-440). Lock-free: it never
    * waits for an in-flight commit, and that commit's events carry a
    * later `_system_from`, so a read at the token cannot see them even
    * when their files are already listed. A query pinned to the token
    * (`atSnapshot`) sees the identical database state regardless of
    * concurrent later transactions. On a store with no transaction yet it
    * is the wall clock, and taking it allocates nothing. */
  def snapshotToken(): java.sql.Timestamp = {
    ensureHeads()
    val head = committedMicros.get
    if (head > 0L) microsToTs(head)
    else new java.sql.Timestamp(System.currentTimeMillis())
  }

  /** Read a table pinned to a snapshot token: system time at the token,
    * valid time now. */
  def atSnapshot(table: String,
      token: java.sql.Timestamp): DataFrame =
    Bitemporal.asOf(events(table), current_timestamp(), lit(token),
      lit(token))
}

object XtDb {
  private val committedHeads =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.AtomicLong]()

  /** The committed head of the store at the qualified `root`, one per
    * JVM. */
  private def committedHead(root: String)
      : java.util.concurrent.atomic.AtomicLong =
    committedHeads.computeIfAbsent(root,
      _ => new java.util.concurrent.atomic.AtomicLong(0L))

  /** The `_txs` log's columns, as `logTx` writes them. */
  val TxLogSchema: StructType = StructType.fromDDL(
    "tx_id BIGINT, system_time TIMESTAMP, tx_table STRING, tx_op STRING, " +
      "committed BOOLEAN, error STRING")

  /** The `_roles` log's columns, as `recordGrant` writes them. */
  val RolesLogSchema: StructType = StructType.fromDDL(
    "at TIMESTAMP, action STRING, what STRING, grantee STRING")

  /** A named write point of the commit, fold and compaction paths —
    * where a crash leaves storage in a distinct intermediate state. */
  sealed trait WritePoint
  object WritePoint {
    /** A declared-layout snapshot fold is about to start. */
    final case class Fold(table: String) extends WritePoint
    /** A rewrite's files are written; the generation pointer is not yet
      * flipped. */
    final case class BeforeFlip(table: String) extends WritePoint
    /** A rewrite's pointer has flipped; `_evmeta.json` still describes
      * the superseded generation. */
    final case class Flipped(table: String) extends WritePoint
    /** A transaction's files have landed in every table it writes; its
      * log record is not yet written, so it is not yet committed. */
    final case class Appended(tables: Seq[String]) extends WritePoint
  }

  /** Called at every [[WritePoint]]. A no-op in production; a spec sets
    * it to interleave a competing writer or to throw (an injected crash)
    * at one point, and resets it afterwards. */
  @volatile private[graft] var writePointHook: WritePoint => Unit = _ => ()

  /** Event-log bucket count floor — the trie fanout analogue: 16 matches
    * the iid-hex first-char spread. The actual count is derived from the
    * table's live bytes at each full compaction so a growing table
    * re-fans out instead of accreting 16 multi-TB single files. */
  private val EventBucketFloor = 16

  /** `_gen` pointer content: `<n>:<dir>`. */
  private val GenPointer = """(\d+):(\S+)""".r

  private def corruptSidecar(p: org.apache.hadoop.fs.Path, why: String,
      text: String): Nothing =
    throw new IllegalStateException(
      s"corrupt or unknown-format store file $p ($why): '$text' — a store " +
        "written by another format must be regenerated")

  /** The flat JSON a sidecar writer emits, read field by field. Every
    * field is required: a missing or malformed one throws, naming the
    * file. */
  private final class SidecarJson(p: org.apache.hadoop.fs.Path, text: String) {
    def corrupt(why: String): Nothing = corruptSidecar(p, why, text)
    private def field(k: String, value: String): String =
      (s""""$k"\\s*:\\s*$value""").r.findFirstMatchIn(text)
        .map(_.group(1)).getOrElse(corrupt(s"""no "$k" field"""))
    def toLong(v: String): Long =
      v.trim.toLongOption.getOrElse(corrupt(s"'$v' is not a number"))
    def toInt(v: String): Int =
      v.trim.toIntOption.getOrElse(corrupt(s"'$v' is not a number"))
    def long(k: String): Long = toLong(field(k, "(-?\\d+)"))
    def int(k: String): Int = toInt(field(k, "(-?\\d+)"))
    def str(k: String): String = field(k, "\"([^\"]*)\"")
    def strs(k: String): Seq[String] =
      "\"([^\"]*)\"".r.findAllMatchIn(field(k, "\\[([^\\]]*)\\]"))
        .map(_.group(1)).toSeq
    def ints(k: String): Set[Int] =
      field(k, "\\[([^\\]]*)\\]").split(",").filter(_.trim.nonEmpty)
        .map(toInt).toSet
    /** `"k":["a:b",…]` entries, split at the first ':'. */
    def pairs(k: String): Seq[(String, String)] = strs(k).map { e =>
      val i = e.indexOf(':')
      if (i <= 0) corrupt(s"$k entry '$e' is not <key>:<value>")
      (e.substring(0, i), e.substring(i + 1))
    }
    def requireVersion(v: Int): Unit =
      if (long("v") != v) corrupt(s"format version is not $v")
  }
}
