package lakebench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

import graft.pipeline.Lakehouse
import graft.serving.{QueryService, SafeSql}
import lakebench.Main.{Ctx, Outcome}

/** The dashboard and copilot user: a closed loop of `clients` threads
  * sharing one session, the way a Spark-backed dashboard server would,
  * over a warehouse of three 8-round seasons (about 70k laps, as many
  * leaf files as one full season) built during set-up.
  *
  * Each request is a page view or a gateway request, in the fixed
  * proportions of [[schedule]]. A page view is the dashboard's five
  * serving calls for one (season, session code), tables resolved from
  * the catalog on every request; seasons follow a Zipf law favouring
  * the latest one. A gateway request is one `SafeSql.run` plus collect
  * from [[Gateway]].
  *
  * The mix (a fifth of the requests are gateway requests, Zipf exponent
  * 1.1, session codes evenly spread) is an assumption: the reference
  * dashboard and copilot give no request mix. So the gated `p50_ms` and
  * `throughput` are those of page views alone; gateway latencies are
  * reported apart.
  */
object DashboardServing {

  val Seasons: Seq[Int] = 2022 to 2024
  val Rounds = 8
  val Codes: Seq[String] = Seq("FP1", "Q", "S", "R")
  val ZipfExponent = 1.1
  /** Requests per schedule block, and how many of them are gateway requests. */
  val BlockSize = 20
  val GatewayPerBlock = 4
  /** Warm-up passes over every page and gateway entry: dashboard p50
    * settles over the first three.
    */
  val WarmupPasses = 3

  sealed trait Verdict
  case object Accept extends Verdict
  case object Cap extends Verdict
  case object Refuse extends Verdict

  /** Untrusted SQL with the verdict the gateway must reach: accepted
    * (under the 200-row cap), capped at 200 rows, or refused.
    */
  val Gateway: Seq[(String, Verdict)] = Seq(
    "SELECT season, COUNT(*) AS n FROM silver.laps GROUP BY season ORDER BY season" -> Accept,
    """SELECT team, MIN(best_lap_time) AS best FROM gold.driver_session_summary
      |WHERE season = 2024 AND session_code = 'R' GROUP BY team ORDER BY team""".stripMargin -> Accept,
    """SELECT grand_prix, team_laps_on_track FROM gold.team_event_summary
      |WHERE season = 2023 AND team = 'FER' AND session_code = 'R'
      |ORDER BY grand_prix""".stripMargin -> Accept,
    """WITH w AS (SELECT season, round, AVG(tracktemp) AS t FROM silver.weather
      |GROUP BY season, round) SELECT season, MAX(t) AS hottest FROM w
      |GROUP BY season ORDER BY season""".stripMargin -> Accept,
    "SELECT status, COUNT(*) AS n FROM silver.results WHERE season = 2022 GROUP BY status" -> Accept,
    "SELECT * FROM silver.laps WHERE season = 2024 AND session_code = 'R'" -> Cap,
    "SELECT driver, laptime FROM silver.laps WHERE laptime IS NOT NULL ORDER BY laptime" -> Cap,
    "SELECT * FROM gold.driver_session_summary" -> Cap,
    "DROP TABLE gold.driver_session_summary" -> Refuse,
    "INSERT INTO silver.laps SELECT * FROM silver.laps" -> Refuse,
    "DELETE FROM silver.results WHERE season = 2024" -> Refuse,
    "SELECT * FROM silver.laps; DROP TABLE silver.laps" -> Refuse,
    "CREATE TABLE gold.copy AS SELECT * FROM gold.team_event_summary" -> Refuse,
    "UPDATE silver.laps SET team = 'X'" -> Refuse)

  sealed trait Request
  final case class View(season: Int, code: String) extends Request
  final case class Ask(sql: String, verdict: Verdict) extends Request

  private def shuffle[T](xs: Seq[T], rng: java.util.SplittableRandom): Seq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.asInstanceOf[Seq[T]]
  }

  /** Seasons for `n` page views in Zipf proportions, latest first
    * (largest-remainder rounding).
    */
  def zipfQuota(n: Int): Seq[Int] = {
    val w = Seasons.indices.map(k => 1.0 / math.pow(k + 1, ZipfExponent))
    val exact = w.map(_ / w.sum * n)
    val floors = exact.map(math.floor(_).toInt)
    val extra = exact.zipWithIndex.sortBy { case (x, i) => (-(x - floors(i)), i) }
      .take(n - floors.sum).map(_._2).toSet
    Seasons.reverse.zipWithIndex.flatMap { case (season, k) =>
      Seq.fill(floors(k) + (if (extra(k)) 1 else 0))(season)
    }
  }

  /** A client's requests: endless blocks of [[BlockSize]], each with
    * exactly [[GatewayPerBlock]] gateway requests (the list walked in a
    * seeded order) and page views whose seasons follow [[zipfQuota]] and
    * whose session codes are spread evenly, shuffled by the seed. Fixed
    * proportions keep runs with different seeds comparable.
    */
  def schedule(rng: java.util.SplittableRandom): Iterator[Request] = {
    val asks = Iterator.continually(shuffle(Gateway, rng)).flatten
    val views = BlockSize - GatewayPerBlock
    Iterator.continually {
      val pages = shuffle(zipfQuota(views), rng)
        .zip(shuffle(Seq.tabulate(views)(i => Codes(i % Codes.size)), rng))
        .map { case (s, c) => View(s, c) }
      shuffle(pages ++ asks.take(GatewayPerBlock).map { case (q, v) => Ask(q, v) }.toSeq, rng)
    }.flatten
  }

  val Calls: Seq[String] = Seq("session_date", "kpis", "fastest_laps", "team_summary", "pace_evolution")

  /** One page view's five serving calls, as DataFrames over the tables
    * the catalog resolves now.
    */
  private def pageFrames(spark: org.apache.spark.sql.SparkSession, season: Int,
                         code: String): Seq[DataFrame] = {
    val laps = spark.table("silver.laps")
    val dss = spark.table("gold.driver_session_summary")
    val tes = spark.table("gold.team_event_summary")
    Seq(QueryService.sessionDate(laps, season, code), QueryService.kpis(laps, season, code),
      QueryService.fastestLaps(dss, season, code), QueryService.teamSummary(tes, season, code),
      QueryService.paceEvolution(laps, season, code))
  }

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val bronze = s"$work/bronze"
    val tw = Harness.now()
    val counts = BronzeGen.write(spark, bronze, seed, Seasons, Rounds, Some(s"$work/out/laps"))
    val bronzeWriteS = Harness.now() - tw
    val phases = mutable.Map.empty[String, Double]
    // traced, the set-up build is replayed phase by phase under the
    // probe, for the write path's catalog and storage counters
    val probe = new Probe(spark)
    val buildCounters = if (!trace) {
      h.warmup("warehouse build")(Lakehouse.build(spark, bronze, countRows = true))(
        LakehouseBuild.correct(_, counts))
      Map.empty[String, Double]
    } else {
      probe.install()
      val before = probe.snapshot()
      h.warmup("warehouse build")(LakehouseBuild.replayBuild(spark, bronze, phases))(
        LakehouseBuild.correct(_, counts))
      val perBuild = Probe.perOp(before, probe.snapshot(), 1)
      probe.uninstall()
      Seq("catalog.commands", "catalog.command_s", "storage.files_written", "storage.bytes_written")
        .map(k => k -> perBuild.getOrElse(k, 0.0)).toMap +
        ("storage.write_amp" -> perBuild.getOrElse("storage.bytes_written", 0.0) /
          Harness.bytesUnder(bronze))
    }
    // serving never reads bronze, and the DuckDB check reads the flat
    // copy: deleting the leaf files now, while they are young, costs
    // little, whereas on a disk mounted with online discard each file
    // removed after writeback costs milliseconds
    Harness.deleteTree(bronze)
    LakehouseBuild.writeGold(ctx)

    def pageView(season: Int, code: String): Seq[Seq[Row]] =
      pageFrames(spark, season, code).map(_.collect().toSeq)

    def gateway(sql: String): Verdict =
      try if (SafeSql.run(spark, sql).collect().length == 200) Cap else Accept
      catch { case _: SafeSql.RejectedSql => Refuse }

    // warm-up passes over every page and gateway entry; the first pass's
    // answers are kept, checked against DuckDB after the run, and every
    // later page view must return the same rows
    val pages = for (s <- Seasons; c <- Codes) yield (s, c)
    val firstAnswers = mutable.Map.empty[(Int, String), Seq[Seq[Row]]]
    val warmupViewP50Ms = (1 to WarmupPasses).map { pass =>
      val ms = pages.map { case (s, c) =>
        val t0 = System.nanoTime()
        h.warmup(s"page view $s/$c pass $pass")(pageView(s, c))(rows =>
          firstAnswers.getOrElseUpdate((s, c), rows) == rows)
        (System.nanoTime() - t0) / 1e6
      }
      Gateway.foreach { case (sql, v) => h.warmup(s"gateway $sql pass $pass")(gateway(sql))(_ == v) }
      Harness.median(ms)
    }
    val answers = firstAnswers.toMap
    val warmupOps = 1 + WarmupPasses * (pages.size + Gateway.size)
    val setupS = sinceStart()

    val clientSchedules =
      (0 until clients).map(c => schedule(new java.util.SplittableRandom(seed * 7919 + c)))

    val samples = new Samples
    def untracedRequest(c: Int): Unit = clientSchedules(c).next() match {
      case Ask(sql, v) =>
        h.timed("gateway")(gateway(sql))(_ == v).foreach(samples.add("gateway", _))
      case View(s, code) =>
        h.timed(s"page view $s/$code")(pageView(s, code))(_ == answers((s, code)))
          .foreach(samples.add("view", _))
    }

    if (!trace) {
      val elapsed = Loop.closed(seconds, clients)(untracedRequest)
      val views = samples("view")
      val gw = samples("gateway")
      writeAnswers(ctx, answers)
      Outcome(
        Loop.endToEnd(setupS, views, views.size / elapsed),
        Map("view_p50_ms" -> Harness.percentile(views, 0.5),
          "view_p90_ms" -> Harness.percentile(views, 0.9),
          "views_per_s" -> views.size / elapsed,
          "gateway_p50_ms" -> Harness.percentile(gw, 0.5),
          "gateway_p90_ms" -> Harness.percentile(gw, 0.9),
          "views" -> views.size, "gateway_requests" -> gw.size, "clients" -> clients,
          "laps" -> counts.laps, "warmup_view_p50_ms" -> warmupViewP50Ms),
        warmupOps)
    } else {
      val half = math.max(1, seconds / 2)
      Loop.closed(half, clients)(untracedRequest)
      val plain = samples("view")
      probe.install()
      val before = probe.snapshot()
      val calls = new Samples
      val rowsReturned = new java.util.concurrent.atomic.AtomicLong
      def timeMs[T](k: String)(f: => T): T = {
        val t0 = System.nanoTime()
        try f finally calls.add(k, (System.nanoTime() - t0) / 1e6)
      }
      Loop.closed(half, clients)(c => clientSchedules(c).next() match {
        case Ask(sql, v) =>
          h.timed("traced gateway") {
            try {
              val df = timeMs("serving.safesql_validate_ms")(SafeSql.run(spark, sql))
              val n = timeMs("serving.safesql_exec_ms")(df.collect().length)
              rowsReturned.addAndGet(n)
              if (n == 200) Cap else Accept
            } catch { case _: SafeSql.RejectedSql => Refuse }
          }(_ == v).foreach(samples.add("traced_gateway", _))
        case View(s, code) =>
          h.timed(s"traced page view $s/$code") {
            val frames = pageFrames(spark, s, code)
            frames.zip(Calls).map { case (df, call) =>
              val rows = timeMs(s"serving.${call}_ms")(df.collect().toSeq)
              rowsReturned.addAndGet(rows.size)
              rows
            }
          }(_ == answers((s, code))).foreach(samples.add("traced_view", _))
      })
      val traced = samples("traced_view")
      val ops = traced.size + samples("traced_gateway").size
      val perOp = Probe.perOp(before, probe.snapshot(), ops)
      probe.uninstall()
      val callMeans = (Calls.map(c => s"serving.${c}_ms") ++
        Seq("serving.safesql_validate_ms", "serving.safesql_exec_ms"))
        .map(k => k -> calls(k)).collect { case (k, xs) if xs.nonEmpty => k -> xs.sum / xs.size }.toMap
      val viewMs = Harness.median(traced)
      val callSum = Calls.map(c => callMeans.getOrElse(s"serving.${c}_ms", 0.0)).sum
      writeAnswers(ctx, answers)
      Outcome(
        Layers.of(perOp ++ phases ++ callMeans ++ buildCounters ++ Map(
          "sessions.session_s" -> sessionS,
          "pipeline.bronze_write_s" -> bronzeWriteS,
          "serving.rows_read_per_row_returned" ->
            perOp.getOrElse("storage.rows_read", 0.0) * ops / math.max(1L, rowsReturned.get),
          "trace.phase_gap_share" -> (viewMs - callSum) / viewMs,
          "trace.overhead_share" -> (viewMs / Harness.median(plain) - 1))),
        Map("view_p50_ms_untraced" -> Harness.median(plain), "view_p50_ms_traced" -> viewMs),
        warmupOps)
    }
  }

  /** The first pass's page answers, one JSON line per page, for the
    * DuckDB comparison made after the run.
    */
  private def writeAnswers(ctx: Ctx, answers: Map[(Int, String), Seq[Seq[Row]]]): Unit = {
    val dir = new java.io.File(s"${ctx.work}/out")
    dir.mkdirs()
    val w = new java.io.PrintWriter(new java.io.File(dir, "pages.jsonl"), "UTF-8")
    try answers.toSeq.sortBy(_._1).foreach { case ((s, c), calls) =>
      w.println(Harness.json(Map("season" -> s, "code" -> c,
        "calls" -> Calls.zip(calls).map { case (name, rows) =>
          Map("call" -> name, "rows" -> rows.map(_.toSeq.map {
            case d: java.math.BigDecimal => d.doubleValue
            case t: java.sql.Timestamp => t.toString
            case other => other
          }))
        })))
    } finally w.close()
  }
}
