package lakebench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** Latency samples in ms, by kind of operation; safe to add to from
  * several client threads.
  */
final class Samples {
  private val m = TrieMap.empty[String, ConcurrentLinkedQueue[Double]]
  def add(kind: String, ms: Double): Unit =
    m.getOrElseUpdate(kind, new ConcurrentLinkedQueue[Double]).add(ms)
  def apply(kind: String): Seq[Double] =
    m.get(kind).map(_.asScala.toSeq).getOrElse(Nil)
}

object Loop {

  /** A closed loop: `clients` threads, each issuing its next operation
    * only when the previous one has returned, until `seconds` have
    * passed since the start. An operation started before the deadline
    * runs to completion. Returns the wall time from start until the
    * last operation returned.
    */
  def closed(seconds: Double, clients: Int)(op: Int => Unit): Double = {
    val t0 = Harness.now()
    val deadline = t0 + seconds
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => while (Harness.now() < deadline) op(c), s"lakebench-client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    Harness.now() - t0
  }

  /** The end-to-end metrics every workload reports, from the latencies
    * (ms) of the operation whose median is its `p50_ms` and its
    * operations completed per second. A p90 is left out: a run has too
    * few operations for ten samples beyond it.
    */
  def endToEnd(setupS: Double, latencies: Seq[Double], throughput: Double): Map[String, Double] =
    if (latencies.isEmpty) Map.empty
    else Map(
      "setup_s" -> setupS,
      "p50_ms" -> Harness.percentile(latencies, 0.5),
      "throughput" -> throughput,
      "live_heap_mb" -> Harness.liveHeapMb())
}
