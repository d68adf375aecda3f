package graft.bitemporal

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** DataFrame-level bitemporal visibility resolution (SURVEY §7.1-7.2).
  *
  * Tables are **append-only event logs**: every DML produces event rows with
  * `(_iid, _id, _valid_from, _valid_to, _system_from, _seq, _op, payload…)`;
  * `_valid_to` null = unbounded; `_system_to` is *derived at read time*,
  * mirroring the reference's scan-time PolygonCalculator rather than
  * rewriting history in place (reference:
  * core/src/main/kotlin/xtdb/bitemporal/PolygonCalculator.kt:22-48).
  *
  * Two read paths:
  *  - `asOf` (point-in-time, the overwhelmingly common case): pure
  *    window-function plan — one shuffle by `_iid`, no custom operator,
  *    fully codegen'd; measured faster than the max_by-aggregation
  *    alternative at realistic versions-per-document (see `asOf`).
  *  - `history` (FOR ALL VALID_TIME / FOR ALL SYSTEM_TIME): exact
  *    rectangle reconstruction via the pure `EventAlgebra` ceiling scan,
  *    distributed with `flatMapGroups` keyed by `_iid`.
  */
object Bitemporal {

  val IID = "_iid"
  val ID = "_id"
  val VF = "_valid_from"
  val VT = "_valid_to"
  val SF = "_system_from"
  val ST = "_system_to"
  val SEQ = "_seq"
  val OP = "_op"
  /** iid-prefix storage bucket (partition column; Trie.kt iid-trie
    * partitioning analogue). */
  val BUCKET = "_bucket"

  val metaCols: Seq[String] = Seq(IID, ID, VF, VT, SF, SEQ, OP, BUCKET)

  /** Point-in-time snapshot: the document versions visible at
    * (validAt, systemAt). Window fast path: drop events at-or-before each
    * iid's latest erase (events written *after* an erase — re-inserts —
    * stay visible, matching the reference's descending polygon scan,
    * PolygonCalculator.kt:43-46, and `EventAlgebra.resolve`), then filter
    * to the system snapshot, keep events whose valid interval contains
    * validAt, take the newest per iid, and keep it only if it is a `put`.
    * An erase masks EVERY system time, including ones before it: the
    * erase window sees erase events past `systemAt` too, up to `basis`
    * (the committed state the read runs at: the statement's token, or
    * now for a log nothing writes concurrently), exactly as `history`
    * (FOR ALL SYSTEM_TIME) and compaction's purge treat them. An erase
    * above `basis` (its files landed, its log record not yet) masks
    * nothing. On a log without erases the window's input is the system
    * snapshot, as before.
    *
    * One shuffle: the erase ceiling rides the same `partitionBy(_iid)`
    * exchange as the recency rank — no distinct/anti-join side plan.
    *
    * Round-8 MEASURED: the seemingly-better single
    * `max_by(event-struct, (system_from, seq))` hash aggregation was
    * tried and FALSIFIED on a 7.5M-event / 1.4M-iid log at local[32] —
    * 1.27 s vs 0.78 s hot for this window plan (BASELINE.md round-8). At
    * realistic versions-per-document (~5) the partial aggregate combines
    * almost nothing, so the shuffle still carries ~full rows while every
    * row pays struct construction into a wide aggregation buffer; the
    * window pays one exchange (reused by both frames) plus a codegen'd
    * sort of short runs. Both formulations hash-matched all 16
    * bitemporal gate queries — the revert is performance-only. */
  def asOf(events: DataFrame, validAt: Column, systemAt: Column,
      basis: Column): DataFrame = {
    val wIid = Window.partitionBy(IID)
    val visible = events
      .filter(col(SF) <= systemAt ||
        (col(OP) === "erase" && col(SF) <= basis))
      .withColumn("__erase_sf",
        max(when(col(OP) === "erase", col(SF))).over(wIid))
      .filter(col("__erase_sf").isNull || col(SF) > col("__erase_sf"))
      .filter(col(SF) <= systemAt)
    val candidate = visible
      .filter(col(VF) <= validAt &&
        (col(VT).isNull || col(VT) > validAt))
    val w = Window.partitionBy(IID).orderBy(col(SF).desc, col(SEQ).desc)
    candidate
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col(OP) === "put")
      .drop("__rn", "__erase_sf", OP, SEQ, BUCKET)
  }

  /** Current state (valid-time and system-time = now). */
  def current(events: DataFrame): DataFrame = {
    val now = current_timestamp()
    asOf(events, now, now, now)
  }

  private val MaxMicros = Long.MaxValue

  private def tsToMicros(r: Row, idx: Int): Long =
    if (r.isNullAt(idx)) MaxMicros
    else {
      val i = r.getTimestamp(idx).toInstant
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }

  private def microsToTs(us: Long): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
      Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))

  /** Exact bitemporal history: every visible rectangle of every put event,
    * with derived `_valid_to` / `_system_to` (null = unbounded). Runs the
    * EventAlgebra ceiling scan per `_iid` via flatMapGroups — the per-iid
    * event count is small (bounded by that document's update count), so the
    * group fits in memory regardless of total table size. */
  def history(events: DataFrame): DataFrame = {
    val schema = events.schema
    val payloadFields = schema.fields.filter(f =>
      f.name != VT && f.name != SF && f.name != OP && f.name != SEQ &&
        f.name != VF && f.name != BUCKET)
    val outSchema = StructType(
      payloadFields ++ Seq(
        StructField(VF, TimestampType), StructField(VT, TimestampType),
        StructField(SF, TimestampType), StructField(ST, TimestampType)))
    val vfIdx = schema.fieldIndex(VF)
    val vtIdx = schema.fieldIndex(VT)
    val sfIdx = schema.fieldIndex(SF)
    val seqIdx = schema.fieldIndex(SEQ)
    val opIdx = schema.fieldIndex(OP)
    val payloadIdxs = payloadFields.map(f => schema.fieldIndex(f.name))
    val iidIdx = schema.fieldIndex(IID)

    events
      .groupByKey(r => r.getAs[String](IID))(Encoders.STRING)
      .flatMapGroups { (_: String, rows: Iterator[Row]) =>
        val buf = rows.toIndexedSeq
        val evs = buf.zipWithIndex.map { case (r, i) =>
          EventAlgebra.Event(
            systemFrom = tsToMicros(r, sfIdx),
            validFrom = if (r.isNullAt(vfIdx)) Long.MinValue else tsToMicros(r, vfIdx),
            validTo = tsToMicros(r, vtIdx),
            op = r.getString(opIdx),
            payloadIdx = i,
            seq = r.getLong(seqIdx))
        }
        EventAlgebra.resolve(evs)
          .map { rect =>
            val src = buf(rect.payloadIdx)
            Row.fromSeq(
              payloadIdxs.map(src.get).toSeq ++ Seq(
                if (rect.validFrom == Long.MinValue) null else microsToTs(rect.validFrom),
                if (rect.validTo == MaxMicros) null else microsToTs(rect.validTo),
                microsToTs(rect.systemFrom),
                if (rect.systemTo == MaxMicros) null else microsToTs(rect.systemTo)))
          }
          .iterator
      }(Encoders.row(outSchema))
  }

  /** One dimension of a table-ref's temporal filter (reference grammar
    * Sql.g4:557-573: `FOR (VALID_TIME|SYSTEM_TIME)
    * (AS OF t | ALL | FROM a TO b | BETWEEN a AND b)`). */
  sealed trait TemporalSpec
  object TemporalSpec {
    /** No clause — the current point (scan.clj:307-310 default). */
    case object Current extends TemporalSpec
    final case class AsOf(at: Column) extends TemporalSpec
    case object All extends TemporalSpec
    /** Versions overlapping [from, to); `inclusiveEnd` = SQL BETWEEN's
      * closed upper bound [from, to]. */
    final case class Range(from: Column, to: Column,
        inclusiveEnd: Boolean = false) extends TemporalSpec
  }

  /** Resolve a table's events under a (valid-time, system-time) spec pair.
    *
    * Point×point uses the single-shuffle `asOf` window fast path (the
    * overwhelmingly common shape); anything involving ALL or a range runs
    * the exact rectangle reconstruction and post-filters rectangles —
    * correct for every combination because rectangles are absolute facts
    * of the full event history. Output always carries
    * `_valid_from/_valid_to/_system_from/_system_to` (fast path: bounds as
    * stored; `_system_to` null since the version is current at the point).
    * `basis` bounds the erases a point read admits (see `asOf`).
    */
  def resolve(events: DataFrame, valid: TemporalSpec,
      system: TemporalSpec,
      basis: Column = current_timestamp()): DataFrame = {
    import TemporalSpec._
    def point(s: TemporalSpec): Option[Column] = s match {
      case Current => Some(current_timestamp())
      case AsOf(t) => Some(t)
      case _ => None
    }
    (point(valid), point(system)) match {
      case (Some(v), Some(s)) =>
        asOf(events, v, s, basis).withColumn(ST, lit(null).cast("timestamp"))
      case _ =>
        def dimFilter(spec: TemporalSpec, from: String, to: String): Column =
          spec match {
            case Current =>
              col(from) <= current_timestamp() &&
                (col(to).isNull || col(to) > current_timestamp())
            case AsOf(t) =>
              col(from) <= t && (col(to).isNull || col(to) > t)
            case All => lit(true)
            case Range(a, b, incl) =>
              (col(to).isNull || col(to) > a) &&
                (if (incl) col(from) <= b else col(from) < b)
          }
        history(events)
          .filter(dimFilter(valid, VF, VT) && dimFilter(system, SF, ST))
    }
  }
}
