package perfbench

/** The benchmark's own account of what the store must hold: for every
  * document id, its versions in commit order, each stamped with the
  * system time the engine assigned its transaction (`None` = deleted).
  * Writes take the default valid time, which is the transaction's system
  * time, so an as-of read at `t` on either time axis sees the last version
  * committed at or before `t`.
  *
  * Updates are whole-row: the model stores the full document after each
  * write, so a read is checked on every column it returns.
  */
final class Model[Doc] {
  private val versions =
    scala.collection.mutable.HashMap.empty[Long, Vector[(Long, Option[Doc])]]

  def put(id: Long, sysMicros: Long, doc: Option[Doc]): Unit = synchronized {
    val vs = versions.getOrElse(id, Vector.empty)
    require(vs.isEmpty || vs.last._1 <= sysMicros,
      s"id $id: commit at $sysMicros precedes its last version")
    versions(id) = vs :+ (sysMicros -> doc)
  }

  def current(id: Long): Option[Doc] = synchronized {
    versions.get(id).flatMap(_.lastOption).flatMap(_._2)
  }

  def asOf(id: Long, sysMicros: Long): Option[Doc] = synchronized {
    versions.get(id).flatMap(_.takeWhile(_._1 <= sysMicros).lastOption)
      .flatMap(_._2)
  }
}

object Model {
  /** Compare the rows a read returned with the documents the model
    * expects; both sides are rendered by `render`. Returns a description
    * of the first difference. */
  def diff[Doc](what: String, got: Seq[String], want: Seq[Doc],
      render: Doc => String): Option[String] = {
    val w = want.map(render).sorted
    val g = got.sorted
    if (g == w) None
    else Some(s"$what: got ${g.mkString("[", "; ", "]")} want ${w.mkString("[", "; ", "]")}")
  }

  def micros(t: java.sql.Timestamp): Long =
    t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L

  /** A SQL timestamp literal for `micros`, exact to the microsecond. */
  def literal(micros: Long): String = {
    val i = java.time.Instant.ofEpochSecond(Math.floorDiv(micros, 1000000L),
      Math.floorMod(micros, 1000000L) * 1000L)
    val s = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
      .withZone(java.time.ZoneOffset.UTC).format(i)
    s"TIMESTAMP '$s'"
  }
}
