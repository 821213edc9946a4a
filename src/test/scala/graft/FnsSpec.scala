package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.Fns

class FnsSpec extends SparkSpec {

  /** Deterministic property sampling (plain scalacheck Gen — the
    * scalatestplus bridge isn't on the classpath).
    */
  private def samples[A](g: Gen[A], n: Int = 300): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("toSnake matches the reference's separator-free snake-casing") {
    assert(Fns.toSnake("LapTime") === "laptime")
    assert(Fns.toSnake("Sector1Time") === "sector1time")
    assert(Fns.toSnake("Grand Prix") === "grand_prix")
    assert(Fns.toSnake("__Weird--Name__") === "weird_name")
    assert(Fns.toSnake("already_snake") === "already_snake")
  }

  test("toSnake is idempotent (property)") {
    samples(Gen.asciiPrintableStr).foreach { s =>
      val once = Fns.toSnake(s)
      assert(Fns.toSnake(once) === once, s"input: $s")
    }
  }

  test("toSnake output alphabet is [a-z0-9_] (property)") {
    samples(Gen.asciiPrintableStr).foreach { s =>
      assert(Fns.toSnake(s).forall(c => c.isDigit || ('a' to 'z').contains(c) || c == '_'),
        s"input: $s")
    }
  }

  test("exactSumScaled equals the BigDecimal sum and ignores partitioning (property)") {
    import spark.implicits._
    // fixed-scale money values (scale 2, mixed sign, up to ~1e7) — the
    // exact sum must equal the BigDecimal reference and be identical
    // under any repartitioning (the order-independence contract)
    val centsGen = Gen.chooseNum(-999999999L, 999999999L)
    val cents = samples(centsGen, 2000)
    val expected = (BigDecimal(cents.sum) / 100).toDouble
    val df = cents.map(_ / 100.0).toDF("v")
    def sumOf(d: org.apache.spark.sql.DataFrame): Double =
      d.agg(Fns.exactSumScaled(col("v"), 2).as("s")).head().getDouble(0)
    assert(sumOf(df) === expected)
    assert(sumOf(df.repartition(17)) === expected)
    assert(sumOf(df.repartition(1)) === expected)
    // scale 0 on integral values
    val ints = cents.map(c => math.abs(c) % 1000)
    val dfi = ints.map(_.toDouble).toDF("v")
    assert(dfi.agg(Fns.exactSumScaled(col("v"), 0).as("s")).head().getDouble(0)
      === ints.sum.toDouble)
  }

  test("slugify matches python-slugify on F1 event names") {
    val df = spark.createDataFrame(Seq(
      ("Bahrain Grand Prix", "bahrain-grand-prix"),
      ("São Paulo!! GP", "s-o-paulo-gp"),
      ("  Monaco  ", "monaco"),
      ("ABU DHABI grand prix", "abu-dhabi-grand-prix"))).toDF("name", "expected")
    val got = df.select(Fns.slugify(col("name")).as("slug"), col("expected")).collect()
    got.foreach(r => assert(r.getString(0) === r.getString(1)))
  }

  test("nsToPretty formats zero-padded mm:ss.mmm") {
    val df = spark.createDataFrame(Seq(
      (88000000000L, "01:28.000"),
      (59999000000L, "00:59.999"),
      (125500000000L, "02:05.500"),
      (0L, "00:00.000"))).toDF("ns", "expected")
    val got = df.select(Fns.nsToPretty(col("ns")).as("p"), col("expected")).collect()
    got.foreach(r => assert(r.getString(0) === r.getString(1)))
  }

  test("nsToSeconds divides by 1e9") {
    val r = spark.range(1).select(Fns.nsToSeconds(lit(90123000000L))).head()
    assert(r.getDouble(0) === 90.123)
  }

  test("tryCastInt nulls on failure, parses on success") {
    val df = spark.createDataFrame(Seq(("2024", true), ("x", false), ("01", true)))
      .toDF("s", "ok")
    val got = df.select(Fns.tryCastInt(col("s")).as("i"), col("ok")).collect()
    got.foreach { r =>
      if (r.getBoolean(1)) assert(!r.isNullAt(0)) else assert(r.isNullAt(0))
    }
  }

  test("tryCastInt matches try_cast on the full probed grammar") {
    // the r14 guarded form (explicit grammar, no per-row throw/catch)
    // must stay value-identical to Spark's try_cast on every case the
    // r14 probe sweep established (PLANS "Round 14 third pass"): signs,
    // ASCII-control padding, leading zeros, int/long overflow,
    // decimals/exponents/hex/inner spaces
    val cases = Seq("42", " 17 ", "+8", "-0", "BUILDING", "12.5", "",
      "99999999999", "999999999999999999999", "1e3", "0x10", " - 5",
      "\t42", "\n7", "\r8", " 9", " 3", "5\t", "6",
      "2", "00042", "-00042", "+000000000000000000000042",
      "2147483647", "2147483648", "-2147483648", "-2147483649",
      "0", "000", "4 2")
    val df = spark.createDataFrame(cases.map(Tuple1(_))).toDF("s")
    val rows = df.select(col("s"),
      col("s").try_cast(org.apache.spark.sql.types.IntegerType).as("tc"),
      Fns.tryCastInt(col("s")).as("g")).collect()
    rows.foreach { r =>
      assert(r.get(1) == r.get(2),
        s"diverged on [${r.getString(0)}]: try_cast=${r.get(1)} guarded=${r.get(2)}")
    }
  }

  test("safeText trims and nulls empty strings") {
    val df = spark.createDataFrame(Seq(Tuple1("  x  "), Tuple1("   "), Tuple1("")))
      .toDF("s")
    val got = df.select(Fns.safeText(col("s"))).collect()
    assert(got(0).getString(0) === "x")
    assert(got(1).isNullAt(0))
    assert(got(2).isNullAt(0))
  }

  test("emptyToFallback falls back only on empty string") {
    val df = spark.createDataFrame(Seq(("VER", "1"), ("", "44"))).toDF("d", "n")
    val got = df.select(Fns.emptyToFallback(col("d"), col("n"))).collect()
    assert(got.map(_.getString(0)).toSeq === Seq("VER", "44"))
  }

  test("spreadIfNarrow widens a narrow plan to session parallelism and " +
      "leaves a wide one untouched") {
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // big enough to clear the tiny-input gate (8 B/row Range stats)
    val rows = Fns.SpreadMinBytes / 8 + 1000
    val narrow = spark.range(0, rows, 1, numPartitions = 1).toDF("id")
    val spreadN = Fns.spreadIfNarrow(narrow, col("id"))
    assert(spreadN.rdd.getNumPartitions === n)
    assert(spreadN.count() === rows)
    val wide = spark.range(0, rows, 1, numPartitions = n + 4).toDF("id")
    // identity: no repartition node is inserted, partition count intact
    assert(Fns.spreadIfNarrow(wide, col("id")) eq wide)
  }

  test("spreadIfNarrow: sub-threshold inputs are left on their scan " +
      "partitioning (the extra stage costs more than it parallelizes)") {
    val tiny = spark.range(0, 1000, 1, numPartitions = 1).toDF("id")
    assert(Fns.spreadIfNarrow(tiny, col("id")) eq tiny)
  }

  test("defensiveTs parses timestamps and falls back to numeric ns") {
    val df = spark.createDataFrame(Seq(
      Tuple1("2024-03-02 15:00:00"),
      Tuple1("1709391600000000000"))).toDF("s")  // 2024-03-02T15:00:00Z in ns
    val got = df.select(Fns.defensiveTs(col("s")).cast("string")).collect()
    assert(got(0).getString(0) === "2024-03-02 15:00:00")
    assert(got(1).getString(0) === "2024-03-02 15:00:00")
  }
}
