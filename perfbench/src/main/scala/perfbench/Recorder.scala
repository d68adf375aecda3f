package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One completed, checked operation. `traced` marks the ops of a traced run
  * that ran with the per-layer decomposition on. */
final case class Sample(kind: String, read: Boolean, ms: Double,
    traced: Boolean = false)

/** Collects the timed operations of a run from any number of client
  * threads. An operation whose engine call throws, or whose output fails
  * its check, counts as failed and leaves no latency sample. */
final class Recorder {
  private val samples = new ConcurrentLinkedQueue[Sample]()
  private val failures = new ConcurrentLinkedQueue[String]()
  val attempted = new AtomicLong
  val failed = new AtomicLong

  /** Time `run`, then check its output; only `run` is timed. Returns the
    * output and its latency in ms when the op succeeded. */
  def op[T](kind: String, read: Boolean, traced: Boolean = false)(run: => T)(
      check: T => Option[String]): Option[(T, Double)] = {
    attempted.incrementAndGet()
    val t0 = System.nanoTime()
    val outcome =
      try Right(run)
      catch { case e: Exception => Left(s"$kind threw: $e") }
    val ms = (System.nanoTime() - t0) / 1e6
    val checked = outcome.flatMap { v =>
      try check(v).toLeft(v)
      catch { case e: Exception => Left(s"$kind output check threw: $e") }
    }
    checked match {
      case Right(v) =>
        samples.add(Sample(kind, read, ms, traced))
        Some((v, ms))
      case Left(msg) =>
        failed.incrementAndGet()
        fail(msg)
        None
    }
  }

  /** Record a failure message (the first 20 are kept for the output). */
  def fail(msg: String): Unit = {
    if (failures.size < 20) failures.add(msg)
    System.err.println(s"[perfbench] FAILED: $msg")
  }

  def all: Seq[Sample] = samples.asScala.toSeq
  def failureMessages: Seq[String] = failures.asScala.toSeq
}
