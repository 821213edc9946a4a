package lakebench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.pipeline.{Bronze, Gold, Lakehouse, Silver}
import graft.quality.Checks
import lakebench.Main.{Ctx, Outcome}

/** The data engineer's rebuild: a closed loop (one client) of full
  * `Lakehouse.build(countRows = true)` runs, each including the 17-check
  * not-null contract, over one generated season of bronze. This is the
  * write path: CTAS into versioned tables, the view-pointer publish and
  * the garbage collection of superseded versions.
  */
object LakehouseBuild {

  val Seasons: Seq[Int] = Seq(2024)
  val WarmupBuilds = 4

  /** The row counts the generator wrote, and a clean 17/17 contract. */
  def correct(r: Lakehouse.BuildResult, c: BronzeGen.Counts): Boolean =
    r.silverRows == Map("laps" -> c.laps, "weather" -> c.weather, "results" -> c.results) &&
      r.contract.size == 17 && r.contract.forall(_.passed)

  /** `Lakehouse.build`'s public steps, in its order, each one timed into
    * `phases` (seconds, added up across calls). The benchmark compares
    * the sum of these phases with the untimed build to show how much of
    * a build falls outside them.
    */
  def replayBuild(spark: SparkSession, bronze: String,
                  phases: mutable.Map[String, Double]): Lakehouse.BuildResult = {
    def time[T](k: String)(f: => T): T = {
      val t0 = Harness.now()
      try f finally phases(k) = phases.getOrElse(k, 0.0) + (Harness.now() - t0)
    }
    time("pipeline.catalog_setup_s") {
      spark.sql("CREATE DATABASE IF NOT EXISTS silver")
      spark.sql("CREATE DATABASE IF NOT EXISTS gold")
    }
    val silverRows = Seq("laps", "weather", "results").map { e =>
      val df = time("pipeline.bronze_read_s")(Bronze.read(spark, bronze, e))
      time(s"pipeline.silver_${e}_s")(Silver.build(df, s"silver.$e", partitionBySeason = true))
      e -> time("pipeline.row_count_s")(spark.table(s"silver.$e").count())
    }.toMap
    time("pipeline.gold_dss_s")(Lakehouse.ctasSwap(spark,
      Gold.driverSessionSummary(spark.table("silver.laps")), "gold.driver_session_summary"))
    val dss = spark.table("gold.driver_session_summary")
    time("pipeline.gold_tes_s")(Lakehouse.ctasSwap(spark,
      Gold.teamEventSummary(dss), "gold.team_event_summary"))
    val tes = spark.table("gold.team_event_summary")
    val keys = Seq("season", "round", "grand_prix")
    val contract = time("quality.contract_s") {
      silverRows.keys.toSeq.sorted.flatMap(e =>
        Checks.notNull(spark.table(s"silver.$e"), s"silver.$e", keys)) ++
        Checks.notNull(dss, "gold.driver_session_summary", keys :+ "driver") ++
        Checks.notNull(tes, "gold.team_event_summary", keys :+ "team")
    }
    val (dssRows, tesRows) = time("pipeline.row_count_s")((dss.count(), tes.count()))
    Lakehouse.BuildResult(silverRows, dssRows, tesRows, contract)
  }

  /** Bytes of the silver and gold databases in the session's warehouse,
    * including the N-1 versions the publish retains.
    */
  def warehouseBytes(spark: SparkSession): Long = {
    val root = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath
    Harness.bytesUnder(s"$root/silver.db") + Harness.bytesUnder(s"$root/gold.db")
  }

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val bronze = s"$work/bronze"
    val tw = Harness.now()
    val counts = BronzeGen.write(spark, bronze, seed, Seasons)
    val bronzeWriteS = Harness.now() - tw
    val bronzeBytes = Harness.bytesUnder(bronze)
    def build() = Lakehouse.build(spark, bronze, countRows = true)

    // warm-up: JIT, codegen caches and the catalog's first versions;
    // a failure here fails the run
    val warmupS = (1 to WarmupBuilds).map { i =>
      val t0 = Harness.now()
      h.warmup(s"build $i")(build())(correct(_, counts))
      Harness.now() - t0
    }
    val setupS = sinceStart()

    if (!trace) {
      val samples = new Samples
      val elapsed = Loop.closed(seconds, 1)(_ =>
        h.timed("rebuild")(build())(correct(_, counts)).foreach(samples.add("build", _)))
      val amp = warehouseBytes(spark).toDouble / bronzeBytes
      writeGold(ctx)
      Outcome(
        Loop.endToEnd(setupS, samples("build"), samples("build").size / elapsed),
        Map("build_s" -> Harness.median(samples("build")) / 1e3, "space_amp" -> amp,
          "bronze_bytes" -> bronzeBytes, "bronze_leaf_files" -> counts.leaves,
          "laps" -> counts.laps, "weather" -> counts.weather, "results" -> counts.results,
          "build_ms" -> samples("build"), "warmup_build_s" -> warmupS),
        WarmupBuilds)
    } else {
      val half = math.max(1, seconds / 2)
      val samples = new Samples
      Loop.closed(half, 1)(_ =>
        h.timed("rebuild")(build())(correct(_, counts)).foreach(samples.add("plain", _)))
      val probe = new Probe(spark)
      probe.install()
      val before = probe.snapshot()
      val phases = mutable.Map.empty[String, Double]
      Loop.closed(half, 1)(_ =>
        h.timed("traced rebuild")(replayBuild(spark, bronze, phases))(correct(_, counts))
          .foreach(samples.add("traced", _)))
      val (plain, traced) = (samples("plain"), samples("traced"))
      val perOp = Probe.perOp(before, probe.snapshot(), traced.size)
      probe.uninstall()
      val phaseS = phases.map { case (k, v) => k -> v / traced.size }
      val tracedS = Harness.median(traced) / 1e3
      writeGold(ctx)
      Outcome(
        Layers.of(perOp ++ phaseS ++ Map(
          "sessions.session_s" -> sessionS,
          "pipeline.bronze_write_s" -> bronzeWriteS,
          "storage.write_amp" -> perOp.getOrElse("storage.bytes_written", 0.0) / bronzeBytes,
          "trace.phase_gap_share" -> (tracedS - phaseS.values.sum) / tracedS,
          "trace.overhead_share" -> (tracedS / (Harness.median(plain) / 1e3) - 1))),
        Map("build_s_untraced" -> Harness.median(plain) / 1e3, "build_s_traced" -> tracedS),
        WarmupBuilds)
    }
  }

  /** The live gold marts, for the DuckDB comparison made after the run. */
  def writeGold(ctx: Ctx): Unit = {
    ctx.spark.table("gold.driver_session_summary").write.parquet(s"${ctx.work}/out/dss")
    ctx.spark.table("gold.team_event_summary").write.parquet(s"${ctx.work}/out/tes")
  }
}
