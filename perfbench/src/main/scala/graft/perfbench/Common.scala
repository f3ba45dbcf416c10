package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Command line of one benchmark run (see run.py for the contract). */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    workDir: Path, outDir: Path, perLayer: Seq[(String, String)])

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")), Paths.get(need("out")),
      // BENCHMARK.json's per_layer metrics, as name=unit,name=unit,...
      need("per-layer").split(",").toSeq.map { nu =>
        val i = nu.lastIndexOf('='); nu.take(i) -> nu.drop(i + 1) })
  }
}

/** Deterministic seeds: every repetition and every input family gets its
  * own sub-seed of the workload seed, so the same seed gives the same
  * inputs and no repetition can be served from an earlier one's caches.
  */
object Seeds {
  def mix(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def sub(seed: Long, tag: String, i: Int): Long = mix(mix(seed ^ tag.hashCode.toLong) + i)
}

object Stats {
  /** Linear-interpolated quantile (the "inclusive" definition). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)
}

object Clock {
  def now(): Long = System.nanoTime()
  def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6
  def s(t0: Long, t1: Long): Double = (t1 - t0) / 1e9
}

/** An operation returned a result that differs from the expected one. */
final class WrongAnswer(message: String) extends RuntimeException(message)

/** Attempted/failed operations and correctness gates of one run. A
  * failure keeps its exception class and message; a failed gate marks
  * the whole run incorrect, and so does a [[WrongAnswer]].
  */
final class Ledger {
  final case class Failure(op: String, cls: String, message: String)
  final case class Gate(name: String, ok: Boolean, detail: String)

  private var attemptedN = 0L
  private var failedN = 0L
  val failures = mutable.ArrayBuffer.empty[Failure]
  val gates = mutable.ArrayBuffer.empty[Gate]
  val notes = mutable.ArrayBuffer.empty[Gate]

  def attempted: Long = synchronized(attemptedN)
  def failed: Long = synchronized(failedN)

  /** Run one operation; returns None (and records why) if it throws. */
  def attempt[T](op: String)(body: => T): Option[T] = {
    synchronized(attemptedN += 1)
    try Some(body)
    catch { case e: Exception => fail(op, e); None }
  }

  def fail(op: String, e: Throwable): Unit = synchronized {
    failedN += 1
    if (failures.size < 100)
      failures += Failure(op, e.getClass.getName, String.valueOf(e.getMessage).take(500))
    System.err.println(s"[perfbench] $op failed: ${e.getClass.getName}: ${e.getMessage}")
    if (e.isInstanceOf[WrongAnswer]) gate(s"$op answers correctly", ok = false, e.getMessage)
  }

  /** Count operations that were attempted outside [[attempt]] (stream events). */
  def count(attempts: Long, failures: Long, op: String, why: => String): Unit = synchronized {
    attemptedN += attempts
    if (failures > 0) {
      failedN += failures
      this.failures += Failure(op, "perfbench.NotVisible", why)
    }
  }

  /** A check recorded in the ledger that does not make the run incorrect. */
  def note(name: String, ok: Boolean, detail: => String): Unit = synchronized {
    notes += Gate(name, ok, detail)
    if (!ok) System.err.println(s"[perfbench] check $name did not hold: $detail")
  }

  def gate(name: String, ok: Boolean, detail: => String): Unit = synchronized {
    gates += Gate(name, ok, detail)
    if (!ok) System.err.println(s"[perfbench] gate $name FAILED: $detail")
  }

  def correct: Boolean = synchronized(gates.nonEmpty && gates.forall(_.ok))
}

object Files2 {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p)
    try all.sorted(java.util.Comparator.reverseOrder()).forEach(q => Files.deleteIfExists(q))
    finally all.close()
  }
  def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes("UTF-8"))
  }
}

/** Minimal JSON rendering for the result line and the trace artifact. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) throw new IllegalStateException(s"non-finite metric $d")
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}
