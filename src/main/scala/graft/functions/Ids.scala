package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Identity helpers.
  *
  * `_iid` in the reference is a 128-bit hash of `_id` used as the internal
  * row-identity key for joins and point lookups (reference:
  * core/src/main/clojure/xtdb/expression.clj:1112-1131, util/->iid). Our
  * engine only needs internal consistency (SURVEY §7.1), so we standardise on
  * md5 over the canonical string form — 128-bit, codegen'd, and computable by
  * any SQL oracle for cross-checking.
  */
object Ids {

  /** 128-bit internal id as 32-char lowercase hex of the canonical string. */
  def iidHex(id: Column): Column = md5(id.cast("string"))

  /** 16-byte binary `_iid` (the form stored in bitemporal event tables). */
  def iid(id: Column): Column = unhex(md5(id.cast("string")))
}
