package lakebench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

/** Counts of attempted and failed operations, shared by the workloads.
  * A failed operation is counted and its time is dropped; it never
  * becomes a sample.
  */
final class Harness {
  private val attemptedN = new java.util.concurrent.atomic.AtomicLong
  private val failures = new ConcurrentLinkedQueue[String]

  def attempted: Long = attemptedN.get
  def failed: Long = failures.size.toLong
  def failureMessages: Seq[String] = failures.asScala.toSeq

  private def fail(what: String, e: Throwable): Unit =
    failures.add(s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")

  /** A warm-up op: counted, never timed, and a failure fails the run. */
  def warmup[T](what: String)(op: => T)(ok: T => Boolean): Unit = {
    attemptedN.incrementAndGet()
    require(ok(op), s"warm-up $what: wrong answer")
  }

  /** Runs and times `op`; the result's check runs after the clock stops.
    * Returns the latency in ms, or None when the op threw or its check
    * failed.
    */
  def timed[T](what: String)(op: => T)(ok: T => Boolean): Option[Double] = {
    attemptedN.incrementAndGet()
    val t0 = System.nanoTime()
    val r = try op catch { case e: Throwable => fail(what, e); return None }
    val ms = (System.nanoTime() - t0) / 1e6
    val passed = try ok(r) catch { case e: Throwable => fail(what, e); return None }
    if (passed) Some(ms) else { failures.add(s"$what: wrong answer"); None }
  }
}

object Harness {
  def now(): Double = System.nanoTime() / 1e9

  /** Linear-interpolated percentile, q in [0, 1]; NaN without samples. */
  def percentile(xs: Seq[Double], q: Double): Double = if (xs.isEmpty) Double.NaN else {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Heap still in use after full collections: what the program keeps
    * alive once the workload is done (catalog, caches, plans), in MB.
    * Unlike the peak resident set, it does not depend on when the
    * collector happened to run.
    */
  def liveHeapMb(): Double = {
    System.gc()
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Removes `dir` and everything under it, if it exists. */
  def deleteTree(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
      finally s.close()
    }
  }

  /** Bytes of all regular files under `dir`. */
  def bytesUnder(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
      finally s.close()
    }
  }

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c    => b.append(c)
    }
    b.append('"').toString
  }

  /** Minimal JSON encoder for maps, sequences, strings and numbers. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] =>
      m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}
