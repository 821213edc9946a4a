package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** ROLLUP / CUBE / GROUPING SETS over DECOMPOSABLE aggregates (COUNT +
  * exact decimal SUM) as a re-aggregation of the FINEST grouping level,
  * instead of Spark's native Expand plan.
  *
  * Why (r17, guide §2.3/§2.4): the native plan is
  * `Expand(×|sets|) → partial agg → Exchange → final agg` — Expand
  * replicates EVERY input row once per grouping set, so the partial
  * hash aggregate (and its per-row decimal adds) does |sets|× the work
  * and the exchange carries |sets|× the per-mapper group rows. At
  * 100 TB a 4-set CUBE pushes 4× the corpus through the aggregation.
  * COUNT and decimal SUM are exactly re-aggregable (decimal addition
  * is exact, associative and commutative; SUM of per-group COUNTs is
  * the group COUNT), so every coarser grouping set derives from the
  * finest one's 9-to-|domain|-row result by arithmetic — the corpus is
  * scanned and aggregated ONCE, and the derived levels are
  * domain-sized work, never data-sized.
  *
  * r18 shape: the coarser sets derive from the fine frame via ONE
  * native GROUPING SETS aggregate — Expand over a DOMAIN-sized frame
  * is free (it was only harmful over the corpus), so the whole
  * derivation is a single linear plan: fine partial agg (one corpus
  * exchange) → Expand(×|sets|) over 9–19 rows → tiny final agg. The
  * r17 shape instead ran a |sets|-branch union over an eagerly
  * localCheckpoint-ed fine frame: correct, but it paid a dedicated
  * corpus-pass checkpoint job plus 2 stages per branch — measured at
  * sf1 (q79) the ~4 fixed extra stages cost MORE than the corpus
  * Expand they replaced (0.75 → 0.97 s, the r17 verdict's kept
  * regression). The grouping-sets-over-fine form keeps the corpus
  * Expand eliminated AND drops the fixed overhead. The fine frame now
  * has exactly ONE consumer, so no materialization is needed at all —
  * except when `sets` includes the global () set (it does in all
  * three declared queries): Spark's native grouping sets emit ZERO
  * rows on empty input even for (), while this operator's contract
  * (and the SQL oracles' engine) emits one cnt=0 global row — so the
  * () row is derived by re-aggregating ONE grouping set of the
  * domain-sized level frame, which is eagerly localCheckpoint-ed
  * (9–19 rows — against the r17 ADVICE note, the non-reliable
  * checkpoint now holds a trivially small frame, not the corpus-pass
  * result, so executor loss costs one domain-sized recompute) to pin
  * the two consumers to one computation (the r06 lesson: per-branch
  * column pruning defeats ReuseExchange).
  *
  * Result equivalence with the native operator (oracle-gated): each
  * grouping set contributes one output row per surviving key
  * combination with non-participating keys NULL — exactly the native
  * column projection of ROLLUP/CUBE output. Data-level NULL keys group
  * into the fine level's NULL bucket and re-aggregate into subtotals
  * the same way Expand's nulled copies do (both engines emit a
  * separate row per grouping set, so a data-NULL fine row and a
  * subtotal row coexist identically in both formulations).
  */
object Rollup {

  /** (keys..., cnt BIGINT, __s DECIMAL(38,6)) for every grouping set in
    * `sets` (each a subset of `keys`; include `keys` itself for the
    * fine level). Callers rename/cast `cnt`/`__s` and order the output.
    */
  def fromPartials(df: DataFrame, keys: Seq[String], value: Column,
                   sets: Seq[Seq[String]]): DataFrame = {
    require(keys.nonEmpty, "keys must be non-empty")
    require(sets.nonEmpty, "sets must be non-empty")
    // compared as SETS: (k1, k2) and (k2, k1) are one grouping set with
    // one grouping_id, so listing both would double-count the () row
    require(sets.map(_.toSet).distinct.size == sets.size,
      s"sets must be distinct, got $sets")
    require(sets.forall(_.forall(keys.contains)),
      s"every grouping set must be a subset of keys=$keys")
    val fine = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("cnt"),
        graft.functions.Fns.exactSum(value).as("__s"))
    val keyType = keys.map(k => k -> fine.schema(k).dataType).toMap
    def nulls = keys.map(k => lit(null).cast(keyType(k)).as(k))
    val nonGlobal = sets.filter(_.nonEmpty)
    if (nonGlobal.isEmpty)
      // only the () set — one plain global aggregate over the data
      // (one row even on empty input: COUNT is 0, SUM is NULL, the
      // oracle-engine GROUP BY () contract)
      return df.agg(count(lit(1)).as("cnt"),
          graft.functions.Fns.exactSum(value).as("__s"))
        .select(nulls ++ Seq(col("cnt"), col("__s")): _*)
    // every keyed set in ONE native grouping-sets pass over the
    // domain-sized fine frame (sum-of-counts / sum-of-exact-decimal-
    // sums re-aggregate exactly; data-NULL keys group within each set
    // the same way the native corpus plan's nulled Expand copies do)
    val levels = fine
      .groupingSets(nonGlobal.map(_.map(col)), keys.map(col): _*)
      .agg(sum(col("cnt")).as("cnt"), sum(col("__s")).as("__s"),
        grouping_id().as("__gid"))
    val body = levels.select(keys.map(col) ++ Seq(col("cnt"), col("__s")): _*)
    if (!sets.exists(_.isEmpty)) body
    else {
      // the () row cannot ride the native pass (zero rows on empty
      // input there) — derive it by re-aggregating exactly ONE of the
      // computed sets, identified by its grouping_id. The level frame
      // is domain-sized, so the pin-both-consumers checkpoint is tiny.
      val lv = levels.localCheckpoint(eager = true)
      val g0 = nonGlobal.head
      val gid0 = keys.zipWithIndex.collect {
        case (k, i) if !g0.contains(k) => 1 << (keys.length - 1 - i)
      }.sum
      val global = lv.filter(col("__gid") === lit(gid0))
        .agg(coalesce(sum(col("cnt")), lit(0L)).as("cnt"),
          sum(col("__s")).as("__s"))
        .select(nulls ++ Seq(col("cnt"), col("__s")): _*)
      lv.select(keys.map(col) ++ Seq(col("cnt"), col("__s")): _*)
        .unionByName(global)
    }
  }

  /** The `sets` argument for a ROLLUP over `keys` (fine → grand total). */
  def rollupSets(keys: Seq[String]): Seq[Seq[String]] =
    keys.indices.map(i => keys.take(keys.length - i)) :+ Seq.empty

  /** The `sets` argument for a CUBE over `keys` (all subsets). */
  def cubeSets(keys: Seq[String]): Seq[Seq[String]] = {
    val n = keys.length
    (0 until (1 << n)).map(m =>
      keys.zipWithIndex.collect { case (k, i) if (m & (1 << i)) != 0 => k })
  }
}
