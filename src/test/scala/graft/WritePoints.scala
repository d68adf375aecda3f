package graft

import graft.bitemporal.XtDb
import graft.bitemporal.XtDb.WritePoint

/** Spec access to the store's write-point hook ([[XtDb.writePointHook]]):
  * interleave a competing writer, or inject a crash, at a named point of
  * the commit, fold and compaction paths. The hook is reset when the
  * body exits, however it exits. */
object WritePoints {

  /** Run `body` with `hook` called at every write point it matches. */
  def withHook[T](hook: PartialFunction[WritePoint, Unit])(body: => T): T = {
    XtDb.writePointHook = p => hook.applyOrElse(p, (_: WritePoint) => ())
    try body finally XtDb.writePointHook = _ => ()
  }

  /** Run `body` with an injected crash at every write point `at` accepts. */
  def crashAt[T](at: WritePoint => Boolean)(body: => T): T =
    withHook { case p if at(p) =>
      throw new IllegalStateException(s"injected crash at $p")
    }(body)

  val beforeFlip: WritePoint => Boolean = _.isInstanceOf[WritePoint.BeforeFlip]
  /** A rewrite's pointer has flipped; its manifest is not yet written. */
  val flipped: WritePoint => Boolean = _.isInstanceOf[WritePoint.Flipped]
  val snapshotFold: WritePoint => Boolean = _.isInstanceOf[WritePoint.Fold]
  /** A transaction's files have landed; its log record has not. */
  val appended: WritePoint => Boolean = _.isInstanceOf[WritePoint.Appended]
}
