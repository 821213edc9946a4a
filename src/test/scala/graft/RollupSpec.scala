package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.operators.Rollup

/** [[graft.operators.Rollup.fromPartials]] must replay Spark's native
  * Expand-based ROLLUP/CUBE/GROUPING SETS row-for-row (the r17 rewrite
  * that removes the Expand from q35/q54/q79) — including data-NULL
  * grouping keys (which coexist with subtotal NULLs as separate rows in
  * both formulations) and the empty-input global set.
  */
class RollupSpec extends SparkSpec {

  import spark.implicits._

  private lazy val df = Seq(
    (Some("a"), Some("x"), 1.5), (Some("a"), Some("x"), 2.25),
    (Some("a"), Some("y"), 4.0), (Some("b"), Some("x"), 8.125),
    (Some("b"), None, 16.0), (None, Some("y"), 32.5),
    (None, None, 64.0), (Some("b"), Some("y"), 0.375))
    .toDF("k1", "k2", "v")

  /** Row multiplicity map — a true BAG compare (Set + count can miss
    * mismatched duplicate multiplicity: {A,A,B} vs {A,B,B}; the r17
    * ADVICE note), and grouping sets with data-NULL keys are exactly
    * where duplicate-looking rows arise.
    */
  private def rows(d: DataFrame): Map[(Option[String], Option[String], Long, Option[Double]), Int] =
    d.collect().map(r => (
      Option(r.getAs[String]("k1")), Option(r.getAs[String]("k2")),
      r.getAs[Long]("cnt"),
      if (r.isNullAt(r.fieldIndex("s"))) None
      else Some(r.getAs[Double]("s")))).toSeq
      .groupBy(identity).map { case (k, v) => k -> v.length }

  private def derived(d: DataFrame, sets: Seq[Seq[String]]): DataFrame =
    Rollup.fromPartials(d, Seq("k1", "k2"), col("v"), sets)
      .select(col("k1"), col("k2"), col("cnt"),
        col("__s").cast(DoubleType).as("s"))

  private def native(d: DataFrame, grouped: org.apache.spark.sql.RelationalGroupedDataset): DataFrame =
    grouped.agg(count(lit(1)).as("cnt"),
      graft.functions.Fns.exactSumD(col("v")).as("s"))

  test("fromPartials == native ROLLUP, with data-NULL keys (bag equality)") {
    val nat = native(df, df.rollup("k1", "k2"))
    val der = derived(df, Rollup.rollupSets(Seq("k1", "k2")))
    assert(der.count() === nat.count()) // bag sizes (dup rows can't hide)
    assert(rows(der) === rows(nat))
  }

  test("fromPartials == native CUBE") {
    val nat = native(df, df.cube("k1", "k2"))
    val der = derived(df, Rollup.cubeSets(Seq("k1", "k2")))
    assert(der.count() === nat.count())
    assert(rows(der) === rows(nat))
  }

  test("fromPartials == native GROUPING SETS ((k1,k2),(k1),())") {
    val sets = Seq(Seq(col("k1"), col("k2")), Seq(col("k1")), Seq())
    val nat = native(df, df.groupingSets(sets, col("k1"), col("k2")))
    val der = derived(df, Seq(Seq("k1", "k2"), Seq("k1"), Seq.empty))
    assert(der.count() === nat.count())
    assert(rows(der) === rows(nat))
  }

  test("empty input: global set emits one cnt=0 row, keyed sets emit none") {
    val empty = df.filter(lit(false))
    val der = derived(empty, Rollup.rollupSets(Seq("k1", "k2")))
    assert(rows(der) === Map((None, None, 0L, None) -> 1))
  }

  test("global-only sets: one plain aggregate row, no grouping sets") {
    val der = derived(df, Seq(Seq.empty))
    assert(rows(der) === Map((None, None, 8L, Some(128.75)) -> 1))
    val derEmpty = derived(df.filter(lit(false)), Seq(Seq.empty))
    assert(rows(derEmpty) === Map((None, None, 0L, None) -> 1))
  }

  test("guards: empty sets list and duplicate sets are refused") {
    intercept[IllegalArgumentException](derived(df, Seq.empty))
    intercept[IllegalArgumentException](
      derived(df, Seq(Seq("k1"), Seq("k1"))))
    // (k1, k2) and (k2, k1) are one grouping set: both copies carry one
    // grouping_id, so the () row derived from that id would count twice
    intercept[IllegalArgumentException](
      derived(df, Seq(Seq("k1", "k2"), Seq("k2", "k1"), Seq.empty)))
  }

  test("property: fromPartials == native ROLLUP and CUBE on random frames") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val key = Gen.option(Gen.oneOf("a", "b", "c", "d"))
    val row = for { a <- key; b <- key
                    v <- Gen.chooseNum(-1000, 1000) } yield (a, b, v / 16.0)
    val frames = (0 until 6).map { i =>
      val n = 1 + i * 7
      (0 until n).flatMap(j =>
        row.apply(Gen.Parameters.default, Seed((i * 1000 + j).toLong)))
        .toDF("k1", "k2", "v")
    }
    frames.foreach { f =>
      assert(rows(derived(f, Rollup.rollupSets(Seq("k1", "k2")))) ===
        rows(native(f, f.rollup("k1", "k2"))), "rollup")
      assert(rows(derived(f, Rollup.cubeSets(Seq("k1", "k2")))) ===
        rows(native(f, f.cube("k1", "k2"))), "cube")
    }
  }
}
