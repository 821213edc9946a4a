package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Corpus-trained n-gram language-model scoring — the CCNet/KenLM-style
  * "perplexity" quality filter every large pretraining pipeline runs
  * (score each document by how probable its word sequence is under a
  * model fitted on the corpus itself; gibberish, boilerplate-mangled
  * and non-linguistic documents score low). Reference scope: the
  * reference has no LM filtering at all (its quality gates are regex
  * rules — `dashboard/app.py` renders rule counters); this is a
  * beyond-reference training-data operator in the q41-quality /
  * q111-vocab family.
  *
  * Model: bigram conditional probabilities with add-k smoothing,
  * k = 1/2, over `[a-z]+` lowercased words (the q169 bpeTrain word
  * convention). The smoothed probability is kept in EXACT integer
  * rational form — (c(w1,w2) + ½) / (c(w1) + ½·V) = (2·c_ab + 1) /
  * (2·c_a + V) with BIGINT numerator/denominator — so no libm ever
  * runs (the BM25 discipline: `ln`/`exp` are not bit-portable across
  * engines). The per-document score is the MEAN smoothed conditional
  * probability rather than the log-sum: rank-isomorphic as a
  * low-quality filter, and exactly replayable.
  *
  * Float determinism: the only order-sensitive step is the per-doc sum
  * of per-bigram probabilities (double addition is not associative).
  * The sum is therefore a POSITION-ORDERED left fold — collect the
  * doc's (pos, num, den) triples, sort by pos, `aggregate` left to
  * right — the dot-product discipline (`Similarity.dotSql`), identical
  * fold shape on both engines. (The fold's 0.0 seed is exact: 0 + p =
  * p for the positive finite p here, and DuckDB's seedless
  * `LIST_REDUCE` therefore folds the same value sequence.)
  *
  * Scale shape (100 TB):
  *   - ONE corpus pass produces the bigram stream — `transform` over
  *     `sequence` on the per-doc word array (the q168 idiom), no
  *     window, no self-join.
  *   - The MODEL is two count frames aggregated off that stream with
  *     map-side combine: (w1,w2)→c_ab and w1→c_a. Both are bounded by
  *     the language's n-gram vocabulary (Heaps-law sublinear in corpus
  *     size — the domain-vs-data distinction), not by row count; they
  *     live as distributed frames, never on the driver.
  *   - Scoring re-joins the bigram stream to the model on (w1,w2) and
  *     (w1): two hash joins keyed on the model frames. AQE broadcasts
  *     them while they fit and degrades to shuffle joins beyond —
  *     no forced hints (the r08 stats-frame rule). V attaches as a
  *     broadcast 1-row scalar.
  *   - The per-doc fold buffers one doc's own bigrams (bounded by
  *     document length, the same contract as the doc's text itself).
  */
object NgramLm {

  private def words(content: Column): Column =
    regexp_extract_all(lower(content), lit("[a-z]+"), lit(0))

  /** Per-document mean smoothed bigram probability under the
    * corpus-fitted model. Documents with fewer than two words carry no
    * bigram and are not emitted (they have no LM evidence either way —
    * the length gates own them).
    *
    * @return (doc_id, n_bigrams, avg_prob)
    */
  def bigramScore(docs: DataFrame, content: Column, id: Column): DataFrame = {
    // minBytes = 0: this kernel's per-byte cost (lowercase + regex
    // extract-all + bigram explode, then the stream re-derived by the
    // scoring join) breaks the default tiny-input gate's "sub-MB scan
    // = sub-second map" assumption — r17 measured ~1.8 s of
    // single-task work on a 0.6 MB scan the gate had left unspread
    // (PLANS round 17, "q178 bigram_lm_score — FIXED")
    val ws = graft.functions.Fns.spreadIfNarrow(
        docs.select(id.as("doc_id"), content.as("__content")), col("doc_id"),
        minBytes = 0L)
      .select(col("doc_id"), words(col("__content")).as("ws"))
    // the size(ws) >= 2 guard lives INSIDE the projection (CASE WHEN →
    // null array) and the generate is OUTER + null-filtered: a plain
    // filter on the ws alias — user-written or generate-inferred —
    // gets pushed BELOW the spread exchange, re-running words() inside
    // the narrow scan stage (the q190 InferFiltersFromGenerate
    // finding; projections with aliases are NOT pushed, filters are)
    val big = ws
      .select(col("doc_id"),
        explode_outer(expr(
          """CASE WHEN size(ws) >= 2 THEN
            |  transform(sequence(1, size(ws) - 1),
            |    i -> struct(i as pos,
            |                element_at(ws, i) as w1,
            |                element_at(ws, i + 1) as w2))
            |END""".stripMargin))
          .as("b"))
      .filter(col("b").isNotNull)
      .select(col("doc_id"), col("b.pos").as("pos"),
        col("b.w1").as("w1"), col("b.w2").as("w2"))
    val cab = big.groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
    val ca = big.groupBy("w1").agg(count(lit(1)).as("c_a"))
    val voc = ws.select(explode_outer(col("ws")).as("w"))
      .filter(col("w").isNotNull) // see `big` — keeps words() above the exchange
      .agg(count_distinct(col("w")).as("v"))
    val scored = big
      .join(cab, Seq("w1", "w2"))
      .join(ca, Seq("w1"))
      .crossJoin(broadcast(voc))
      .select(col("doc_id"), col("pos"),
        (lit(2L) * col("c_ab") + lit(1L)).as("num"),
        (lit(2L) * col("c_a") + col("v")).as("den"))
    scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        aggregate(
          transform(
            array_sort(collect_list(struct(col("pos"), col("num"), col("den")))),
            x => x.getField("num").cast(DoubleType) / x.getField("den")),
          lit(0.0), (acc, x) => acc + x).as("sum_p"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("sum_p") / col("n_bigrams").cast(DoubleType)).as("avg_prob"))
  }

  /** Oracle for [[bigramScore]] over `documents(doc_id, text)` — the
    * identical model counts, rational smoothing, and position-ordered
    * fold (lateral RANGE unnest for the bigrams, `LIST(... ORDER BY
    * pos)` + `LIST_REDUCE` for the fold).
    */
  def bigramScoreOracle: String =
    """WITH ws AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
      |  FROM documents),
      |big AS (
      |  SELECT doc_id, i AS pos, ws[i] AS w1, ws[i + 1] AS w2
      |  FROM ws, UNNEST(RANGE(1, LEN(ws))) AS u(i)),
      |cab AS (SELECT w1, w2, COUNT(*) AS c_ab FROM big GROUP BY w1, w2),
      |ca AS (SELECT w1, COUNT(*) AS c_a FROM big GROUP BY w1),
      |voc AS (SELECT COUNT(DISTINCT w) AS v
      |        FROM (SELECT UNNEST(ws) AS w FROM ws)),
      |scored AS (
      |  SELECT big.doc_id, big.pos,
      |    2 * cab.c_ab + 1 AS num,
      |    2 * ca.c_a + voc.v AS den
      |  FROM big
      |  JOIN cab ON big.w1 = cab.w1 AND big.w2 = cab.w2
      |  JOIN ca ON big.w1 = ca.w1
      |  CROSS JOIN voc),
      |agg AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |    LIST_REDUCE(
      |      LIST_TRANSFORM(
      |        LIST(struct_pack(pos := pos, num := num, den := den)
      |             ORDER BY pos),
      |        x -> CAST(x.num AS DOUBLE) / x.den),
      |      (u, v) -> u + v) AS sum_p
      |  FROM scored GROUP BY doc_id)
      |SELECT doc_id, n_bigrams, sum_p / CAST(n_bigrams AS DOUBLE) AS avg_prob
      |FROM agg ORDER BY doc_id""".stripMargin
}
