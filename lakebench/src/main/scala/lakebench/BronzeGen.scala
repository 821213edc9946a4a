package lakebench

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.pipeline.Bronze

/** Seeded F1 bronze generator: the hive layout of FIXTURES.md §A
  * (`<table>/season=/round=/grand_prix=/session=/part-*.parquet`),
  * written through `graft.pipeline.Bronze.write`, one file per leaf.
  *
  * One season is 24 rounds of 20 drivers: 18 normal weekends
  * (FP1 FP2 FP3 Q R) and 6 sprint weekends (FP1 FP2 FP3 Q S R), which
  * gives about 72k laps, 7k weather rows and 2.5k results rows in 378
  * leaf files. Row counts vary a little with the seed; the structure
  * does not.
  *
  * Edge cases the gold marts and the contract must handle:
  *  - a driver whose `driver` is '' (gold falls back to drivernumber);
  *  - NULL laptimes (out-laps and red-flag laps);
  *  - pit-in laps (pitintime set) and the following pit-out laps;
  *  - laptime ties, within a driver and across drivers;
  *  - NULL team, only in FP sessions (a reserve driver's outing): gold's
  *    team_event_summary admits only R/Q/S, where team is never NULL.
  */
object BronzeGen {

  final case class Counts(laps: Long, weather: Long, results: Long, leaves: Int)

  private val Teams = Seq("RBR", "MER", "FER", "MCL", "AMR", "ALP", "WIL", "RB", "SAU", "HAA")
  private val Drivers = Seq(
    "VER", "PER", "HAM", "RUS", "LEC", "SAI", "NOR", "PIA", "ALO", "STR",
    "GAS", "OCO", "ALB", "SAR", "TSU", "RIC", "BOT", "ZHO", "HUL", "MAG")
  private val DriverNumbers = Seq(
    "1", "11", "44", "63", "16", "55", "4", "81", "14", "18",
    "10", "31", "23", "2", "22", "3", "77", "24", "27", "20")
  private val GrandPrix = Seq(
    "bahrain", "saudi-arabian", "australian", "japanese", "chinese", "miami",
    "emilia-romagna", "monaco", "canadian", "spanish", "austrian", "british",
    "hungarian", "belgian", "dutch", "italian", "azerbaijan", "singapore",
    "united-states", "mexico-city", "sao-paulo", "las-vegas", "qatar", "abu-dhabi")
    .map(_ + "-grand-prix")
  private val SprintRounds = Set(5, 6, 11, 19, 21, 23)
  private val Compounds = Seq("SOFT", "MEDIUM", "HARD", "INTERMEDIATE", "WET")
  private val Statuses = Seq("Finished", "+1 Lap", "Collision", "Engine", "Retired")

  def sessions(round: Int): Seq[String] =
    if (SprintRounds.contains(round)) Seq("FP1", "FP2", "FP3", "Q", "S", "R")
    else Seq("FP1", "FP2", "FP3", "Q", "R")

  private def lapsPerDriver(code: String): Int = code match {
    case "R" => 55
    case "S" => 20
    case "Q" => 12
    case _   => 25
  }

  private val Partition = Seq(
    StructField("season", StringType), StructField("round", StringType),
    StructField("grand_prix", StringType), StructField("session", StringType))

  val LapsSchema: StructType = StructType(Seq(
    StructField("driver", StringType), StructField("drivernumber", StringType),
    StructField("team", StringType), StructField("lapnumber", DoubleType),
    StructField("stint", DoubleType), StructField("laptime", LongType),
    StructField("sector1time", LongType), StructField("sector2time", LongType),
    StructField("sector3time", LongType), StructField("pitintime", LongType),
    StructField("pitouttime", LongType), StructField("compound", StringType),
    StructField("tyrelife", DoubleType), StructField("freshtyre", BooleanType),
    StructField("trackstatus", StringType), StructField("lapstartdate", TimestampType),
    StructField("ispersonalbest", BooleanType), StructField("speedi1", DoubleType),
    StructField("speedi2", DoubleType), StructField("speedfl", DoubleType),
    StructField("speedst", DoubleType), StructField("position", DoubleType),
    StructField("deleted", BooleanType), StructField("deletedreason", StringType))
    ++ Partition)

  val WeatherSchema: StructType = StructType(Seq(
    StructField("time", LongType), StructField("airtemp", DoubleType),
    StructField("tracktemp", DoubleType), StructField("humidity", DoubleType),
    StructField("pressure", DoubleType), StructField("windspeed", DoubleType),
    StructField("winddirection", LongType), StructField("rainfall", BooleanType))
    ++ Partition)

  val ResultsSchema: StructType = StructType(Seq(
    StructField("drivernumber", StringType), StructField("abbreviation", StringType),
    StructField("broadcastname", StringType), StructField("fullname", StringType),
    StructField("teamname", StringType), StructField("position", DoubleType),
    StructField("classifiedposition", StringType), StructField("gridposition", DoubleType),
    StructField("q1", LongType), StructField("q2", LongType), StructField("q3", LongType),
    StructField("time", LongType), StructField("status", StringType),
    StructField("points", DoubleType))
    ++ Partition)

  private val Sec = 1000000000L

  /** Writes the first `rounds` rounds of each of `seasons` under `root`
    * (and, if asked, the laps again to `flatLaps`) and returns the row
    * counts it wrote. Same seed, same data.
    */
  def write(spark: SparkSession, root: String, seed: Long, seasons: Seq[Int],
            rounds: Int = 24, flatLaps: Option[String] = None): Counts = {
    val rnd = new java.util.SplittableRandom(seed)
    val laps = ArrayBuffer.empty[Row]
    val weather = ArrayBuffer.empty[Row]
    val results = ArrayBuffer.empty[Row]
    var leaves = 0
    val L = null.asInstanceOf[java.lang.Long]
    def jl(v: Long): java.lang.Long = java.lang.Long.valueOf(v)

    for (season <- seasons; round <- 1 to rounds) {
      val gp = GrandPrix(round - 1)
      val weekend = java.time.LocalDate.of(season, 3, 1).plusDays(7L * (round - 1))
      // per-round: one driver races with an empty `driver` code, and
      // one reserve driver takes an FP1 seat with no team on record
      val blankDriver = rnd.nextInt(20)
      val reserveSeat = rnd.nextInt(20)
      // rounds own disjoint lap-time bands, so a driver's best laps
      // never tie across rounds and top-k answers stay deterministic
      val baseLap = 60L * Sec + round * 6L * Sec
      sessions(round).zipWithIndex.foreach { case (code, si) =>
        leaves += 3
        val part = Seq(season.toString, Bronze.roundValue(round), gp, code)
        val start = Timestamp.valueOf(weekend.atTime(11 + si, 0))
        val startMs = start.getTime
        // a shared best lap: two drivers tie on the session's fastest time
        val tieTime = baseLap - Sec / 2 + rnd.nextInt(400) * 1000000L
        val tiers = (0 until 20).map(_ => rnd.nextInt(2000) * 1000000L)
        for (d <- 0 until 20) {
          val reserve = code == "FP1" && d == reserveSeat
          val abbr = if (reserve) "RES" else if (d == blankDriver) "" else Drivers(d)
          val number = if (reserve) "40" else DriverNumbers(d)
          val team: String = if (reserve) null else Teams(d / 2)
          val dnf = code == "R" && rnd.nextInt(10) == 0
          val n = if (dnf) 5 + rnd.nextInt(lapsPerDriver(code) - 5) else lapsPerDriver(code)
          val pitLap = if (code == "R" || code == "S") 1 + rnd.nextInt(n) else -1
          var clock = startMs + rnd.nextInt(3000)
          var stint = 1
          for (lap <- 1 to n) {
            val nullLap = lap == 1 || rnd.nextInt(40) == 0
            val lt: java.lang.Long =
              if (nullLap) L
              else if (lap == 2 && d < 2) jl(tieTime)            // cross-driver tie
              else if (lap == 4 && d == 2) jl(baseLap + tiers(2)) // within-driver tie ...
              else if (lap == 5 && d == 2) jl(baseLap + tiers(2)) // ... on the same time
              else jl(baseLap + tiers(d) + rnd.nextInt(3000) * 1000000L)
            val pitIn: java.lang.Long =
              if (lap == pitLap) jl((clock - startMs) * 1000000L + 70 * Sec) else L
            val pitOut: java.lang.Long =
              if (lap == pitLap + 1 && pitLap > 0) jl((clock - startMs) * 1000000L + 20 * Sec)
              else L
            if (lap == pitLap + 1 && pitLap > 0) stint += 1
            val s1: java.lang.Long = if (lt == null) L else jl(lt / 3)
            laps += Row.fromSeq(Seq(
              abbr, number, team, lap.toDouble, stint.toDouble, lt,
              s1, s1, if (lt == null) L else jl(lt - 2 * (lt / 3)), pitIn, pitOut,
              if (rnd.nextInt(50) == 0) null else Compounds(rnd.nextInt(3)),
              (lap % 20).toDouble, lap == 1, "1", new Timestamp(clock),
              lap == n, 280.0 + rnd.nextInt(400) / 10.0, 270.0 + rnd.nextInt(400) / 10.0,
              290.0 + rnd.nextInt(400) / 10.0, 300.0 + rnd.nextInt(400) / 10.0,
              (1 + (d + lap) % 20).toDouble, false, null) ++ part)
            clock += (if (lt == null) 95000L else lt / 1000000L)
          }
          results += Row.fromSeq(Seq(
            number, if (abbr.isEmpty) Drivers(d) else abbr, abbr, s"Driver $number",
            team, (d + 1).toDouble, if (dnf) "R" else (d + 1).toString, (20 - d).toDouble,
            if (code == "Q") jl(baseLap + tiers(d)) else L, L, L,
            if (code == "R" && !dnf) jl(5400L * Sec + d * Sec) else L,
            if (dnf) Statuses(2 + rnd.nextInt(3)) else Statuses(rnd.nextInt(2)),
            if (code == "R") math.max(0, 25 - d * 2).toDouble else 0.0) ++ part)
        }
        val wrows = 50 + rnd.nextInt(12)
        for (i <- 0 until wrows) weather += Row.fromSeq(Seq(
          i * 60L * Sec, 20.0 + rnd.nextInt(150) / 10.0, 30.0 + rnd.nextInt(250) / 10.0,
          40.0 + rnd.nextInt(500) / 10.0, 1000.0 + rnd.nextInt(300) / 10.0,
          rnd.nextInt(80) / 10.0, rnd.nextInt(360).toLong, rnd.nextInt(30) == 0) ++ part)
      }
    }
    // hash-partitioned on the leaf keys, every leaf lands in exactly one
    // task: still one file per leaf, written on all cores
    def put(rows: ArrayBuffer[Row], schema: StructType, table: String): Unit =
      Bronze.write(spark.createDataFrame(rows.asJava, schema)
        .repartition(Bronze.PartitionCols.map(col): _*), root, table, singleFilePerLeaf = false)
    put(laps, LapsSchema, "laps")
    // the same lap rows as one plain parquet file (partition values as
    // columns), for a reference check that outlives the bronze files
    flatLaps.foreach(dir => spark.createDataFrame(laps.asJava, LapsSchema).coalesce(1).write.parquet(dir))
    put(weather, WeatherSchema, "weather")
    put(results, ResultsSchema, "results")
    Counts(laps.size, weather.size, results.size, leaves)
  }
}
