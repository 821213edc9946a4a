package lakebench

import org.apache.spark.sql.SparkSession

/** Entry point of the JVM half of the benchmark (`run.py` builds and
  * launches it, then checks its outputs against DuckDB):
  *
  *   lakebench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --data <dir> --cpus <n> --clients <n>
  *                  --start-ms <epoch ms the benchmark process started>
  *
  * Prints one JSON record as its last stdout line. Exits non-zero, with
  * no record, when set-up or warm-up fails.
  */
object Main {

  final case class Ctx(spark: SparkSession, workload: String, seed: Long, seconds: Int,
                       trace: Boolean, work: String, data: String,
                       clients: Int, startMs: Long, sessionS: Double, h: Harness) {
    /** Seconds from benchmark start until now: the set-up time when
      * called just before the first timed op.
      */
    def sinceStart(): Double = (System.currentTimeMillis() - startMs) / 1e3
  }

  /** What a workload hands back: end-to-end metrics (untraced run) or
    * per-layer metrics (traced run), its own named figures, and the
    * number of warm-up operations it ran before timing.
    */
  final case class Outcome(metrics: Map[String, Double], report: Map[String, Any], warmupOps: Int)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val t0 = Harness.now()
    val spark = graft.Sessions.local("lakebench", a("cpus")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = Ctx(spark, a("workload"), a("seed").toLong, a("seconds").toInt, a("trace") == "1",
      a("work"), a("data"), a("clients").toInt, a("start-ms").toLong,
      Harness.now() - t0, new Harness)
    val out = ctx.workload match {
      case "lakehouse_build"   => LakehouseBuild.run(ctx)
      case "dashboard_serving" => DashboardServing.run(ctx)
      case "analytics_sweep"   => AnalyticsSweep.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload: $w")
    }
    val record = Map(
      "metrics" -> out.metrics,
      "report" -> out.report,
      "attempted" -> ctx.h.attempted,
      "failed" -> ctx.h.failed,
      "failures" -> ctx.h.failureMessages.take(20),
      "warmup_ops" -> out.warmupOps,
      "peak_rss_mb" -> Harness.peakRssMb())
    spark.stop()
    println(Harness.json(record + ("printed_ms" -> System.currentTimeMillis())))
  }
}
