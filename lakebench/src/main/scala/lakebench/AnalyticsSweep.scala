package lakebench

import graft.SparkEntry
import lakebench.Main.{Ctx, Outcome}

/** The analyst's query sweep: warm passes over the headline-10 and five
  * operator queries (`SparkEntry.queries`) on generated TPC-H-shaped
  * tables, each materialized through a noop sink, with the same
  * between-query hygiene as `graft.Bench` (cached frames and persisted
  * RDDs dropped, then a GC) outside the timed region.
  */
object AnalyticsSweep {

  val Sweep: Seq[String] = Layers.Queries ++ Layers.OperatorQueries
  val WarmupPasses = 2

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val queries = SparkEntry.queries
    def hygiene(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }
    def noop(q: String): Unit =
      queries(q)(spark, data).write.format("noop").mode("overwrite").save()

    // warm-up: one pass whose answers are written out for the DuckDB
    // comparison made after the run, then noop passes
    val warmupS = (1 to WarmupPasses).map { i =>
      val t0 = Harness.now()
      Sweep.foreach { q =>
        if (i == 1) h.warmup(q)(queries(q)(spark, data).write.parquet(s"$work/out/q/$q"))(_ => true)
        else h.warmup(q)(noop(q))(_ => true)
        hygiene()
      }
      Harness.now() - t0
    }
    writeOracles(ctx)
    val setupS = sinceStart()

    /** One whole pass; latencies in `samples` under `tag + query`, and
      * their sum under `tag + "pass"` when every query succeeded.
      */
    def pass(samples: Samples, tag: String): Double = {
      val t0 = Harness.now()
      val ms = Sweep.flatMap { q =>
        val r = h.timed(q)(noop(q))(_ => true)
        r.foreach(samples.add(tag + q, _))
        hygiene()
        r
      }
      if (ms.size == Sweep.size) samples.add(tag + "pass", ms.sum)
      Harness.now() - t0
    }

    def sumOfMedians(samples: Samples, tag: String, qs: Seq[String]): Double =
      qs.map(q => Harness.median(samples(tag + q))).sum / 1e3

    val samples = new Samples
    if (!trace) {
      // whole passes, so every query has as many samples as the others
      Loop.closed(seconds, 1)(_ => pass(samples, ""))
      val latencies = Sweep.flatMap(q => samples(q))
      Outcome(
        // the operation is a whole pass, so that every query counts in
        // p50_ms; throughput is queries per second of query time: the
        // untimed hygiene between queries is the benchmark's, not the
        // program's
        Loop.endToEnd(setupS, samples("pass"), latencies.size / (latencies.sum / 1e3)),
        Map("headline_s" -> sumOfMedians(samples, "", Layers.Queries),
          "operators_s" -> sumOfMedians(samples, "", Layers.OperatorQueries),
          "passes" -> samples("pass").size, "pass_ms" -> samples("pass"), "warmup_pass_s" -> warmupS,
          "query_ms" -> Sweep.map(q => q -> Harness.median(samples(q))).toMap),
        WarmupPasses * Sweep.size)
    } else {
      // one whole untraced pass, then one whole traced pass, so every
      // query has a traced time whatever `seconds` is
      val plainS = pass(samples, "plain.")
      val probe = new Probe(spark)
      probe.install()
      val before = probe.snapshot()
      val tracedS = pass(samples, "traced.")
      val traced = Sweep.flatMap(q => samples("traced." + q))
      val perOp = Probe.perOp(before, probe.snapshot(), traced.size)
      probe.uninstall()
      Outcome(
        Layers.of(perOp ++ Sweep.map(q => s"queries.${q}_s" -> sumOfMedians(samples, "traced.", Seq(q))) ++ Map(
          "sessions.session_s" -> sessionS,
          // time between the queries: the unpersist-and-GC hygiene
          "trace.phase_gap_share" -> (tracedS - traced.sum / 1e3) / tracedS,
          "trace.overhead_share" -> (tracedS / plainS - 1))),
        Map("pass_s_untraced" -> plainS, "pass_s_traced" -> tracedS),
        WarmupPasses * Sweep.size)
    }
  }

  /** The DuckDB SQL each swept query must match. */
  private def writeOracles(ctx: Ctx): Unit = {
    val oracles = SparkEntry.oracleSql
    val w = new java.io.PrintWriter(new java.io.File(s"${ctx.work}/out/oracle.json"), "UTF-8")
    try w.println(Harness.json(Sweep.map(q => q -> oracles.getOrElse(q, "")).toMap))
    finally w.close()
  }
}
