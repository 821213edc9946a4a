package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Learned curation operators — the model-BASED half of the quality/
  * language gates (q41/q43 are hand-written rules; production
  * pretraining pipelines additionally run TRAINED filters: a language
  * / domain classifier fitted on labeled text (the CCNet/fastText
  * pattern) and importance weights that up-sample raw data resembling
  * a target domain (hashed-n-gram importance resampling). Reference
  * scope: the reference has no learned filtering at all (its gates
  * are static SQL rules — `dashboard/app.py` quality counters); both
  * operators here are beyond-reference training-data components in
  * the q41/q43/q198 family.
  *
  * Float determinism (the NgramLm/BM25 discipline): no `ln`/`exp`
  * ever runs — log-likelihoods are not bit-portable across engines.
  * Class scores are kept in EXACT integer form until one final
  * division: with add-½ smoothing, p(t|c) = (2·c(t,c)+1) /
  * (2·N_c+V), so a document's additive class score
  * Σ_t p(t|c) = (2·Σ_t c(t,c) + T) / (2·N_c + V) — BIGINT numerator,
  * BIGINT denominator, ONE double division at the end. IEEE division
  * of the same two integers is correctly rounded on every engine, so
  * the gate hashes match bit-for-bit. (Linear pooling of smoothed
  * unigram probabilities is the Rocchio / nearest-centroid form of
  * the multinomial classifier — rank-isomorphic to NB for the
  * filtering decision, and exactly replayable, where NB's log-sum is
  * neither.)
  *
  * Scale shape (100 TB):
  *   - Tokenize once per side (`[a-z]+` lowercased words, the q169
  *     convention), spread before the heavy map
  *     ([[graft.functions.Fns.spreadIfNarrow]]).
  *   - The MODEL is one (token, class)-count aggregate off the train
  *     stream — map-side combine, bounded by vocabulary × classes
  *     (Heaps-law sublinear, the domain-vs-data distinction), held as
  *     a distributed frame, never on the driver.
  *   - Scoring joins the test token stream to the model on `token`
  *     (AQE broadcasts the model while it fits, degrades to a shuffle
  *     join beyond — no forced hints, the r08 stats-frame rule), then
  *     ONE (doc, class) aggregate. Unseen (token, class) pairs
  *     contribute exactly the +1 smoothing mass, which the algebra
  *     folds into `+ T` — no outer join, no per-class fan-out of
  *     unmatched tokens.
  *   - The class list and per-class totals are |C|-sized frames; the
  *     doc×class score frame is |docs|·|C| rows, aggregated with
  *     `min_by` (no per-doc window).
  */
object Classify {

  private def words(content: Column): Column =
    regexp_extract_all(lower(content), lit("[a-z]+"), lit(0))

  /** Materialize-then-release for CORPUS-PROPORTIONAL outputs built
    * over a persisted token cache. [[graft.operators.Dedup.selfCleaning]]
    * (written for pair frames) eagerly localCheckpoints — fine for a
    * small pair result, but for a one-row-per-document output that
    * truncates lineage into non-replicated executor blocks: one lost
    * executor makes the whole result unrecoverable at 100 TB (the
    * round-14 ADVICE finding). Here the result is persisted with
    * lineage INTACT and filled eagerly while the token cache is still
    * warm; the cache is then released. A lost block recomputes from
    * source (slower — the cache is gone — but correct), and the
    * ContextCleaner reclaims the result blocks when the caller drops
    * the frame.
    */
  private def selfCleaningPersist(base: DataFrame)(build: => DataFrame)
      : DataFrame =
    try {
      val out = build
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out.count()
      out
    } finally { base.unpersist(blocking = false); () }

  private def tokens(docs: DataFrame, content: Column, id: Column,
                     extra: Seq[(String, Column)]): DataFrame = {
    val base = graft.functions.Fns.spreadIfNarrow(
      docs.select(Seq(id.as("doc_id"), content.as("__content"))
        ++ extra.map { case (n, c) => c.as(n) }: _*), col("doc_id"))
    base.select(Seq(col("doc_id"), explode(words(col("__content"))).as("tok"))
      ++ extra.map { case (n, _) => col(n) }: _*)
  }

  /** Smoothed class-centroid text classifier, trained and applied in
    * one relational pass: documents whose `doc_id % modBase ==
    * testSlice` are HELD OUT and scored; the rest train per-class
    * token counts. Prediction = argmax_c Σ_t (2·c(t,c)+1)/(2·N_c+V)
    * (see object doc), ties broken by the SMALLEST class label —
    * deterministic on any engine and any partitioning.
    *
    * Test docs with zero `[a-z]+` tokens carry no evidence and are
    * not emitted (the length gates own them — the bigramScore
    * contract).
    *
    * @param label class column (e.g. `lang`, `source`)
    * @return (doc_id, n_toks, actual, predicted, score, hit) one row
    *         per held-out doc; `score` is the winning class's mean
    *         numerator/denominator division, `hit` = predicted ==
    *         actual
    */
  def centroidClassifier(docs: DataFrame, content: Column, id: Column,
                         label: Column, modBase: Int = 5,
                         testSlice: Int = 0): DataFrame = {
    require(modBase >= 2, s"modBase ($modBase) must be >= 2")
    require(testSlice >= 0 && testSlice < modBase,
      s"testSlice ($testSlice) must be in [0, $modBase)")
    // the token stream feeds five consumers (model, totals, vocab,
    // test aggregate, score join) — persist it so the corpus
    // tokenizes ONCE, not once per consumer (the q173 base
    // discipline); selfCleaningPersist materializes the result and
    // drops the cache WITHOUT truncating lineage (the output is
    // corpus-proportional, unlike the pair frames selfCleaning was
    // written for)
    val toks = tokens(docs.filter(content.isNotNull && label.isNotNull),
      content, id, Seq("lbl" -> label))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val train = toks.filter(pmod(col("doc_id"), lit(modBase)) =!= testSlice)
    val test = toks.filter(pmod(col("doc_id"), lit(modBase)) === testSlice)
      .select("doc_id", "tok", "lbl")
    // the cache fill and model fit run INSIDE selfCleaningPersist's
    // try — an exception in either must still unpersist toks. The
    // model itself unpersists only after the scored output
    // materializes (its count() inside selfCleaningPersist), so the
    // model cache serves every consumer first.
    var m: CentroidModel = null
    try selfCleaningPersist(toks) {
      // materialize the cache BEFORE the consumers fan out: they
      // launch as parallel stages of one job, and parallel stages
      // share nothing in-flight — an unfilled cache is recomputed
      // once per consumer (five interleaved tokenize stages in the sf1
      // stage profile, PLANS "Round 14 sixth pass"). Gated on the SAME
      // tiny-scan test the spread uses: on a tiny unspread corpus each
      // fill is a serial single-task barrier while the racing recomputes
      // overlap on idle cores (round-15 q208 adjudication — r13 parity
      // restored at sf0.1, the sf1 win kept). The model fill inherits
      // the same decision: two serial fill jobs or zero.
      val eager = !graft.functions.Fns.tinyScan(
        docs.filter(content.isNotNull && label.isNotNull)
          .select(content.as("__content")))
      if (eager) toks.count(): Unit
      m = fitOnTokens(train, eager)
      m.scoreTokens(test)
    } finally if (m != null) m.unpersist()
  }

  /** A fitted centroid model as three frames: (tok, cls, c) counts,
    * (cls, n_c) totals, and the 1-row vocabulary size. Built by
    * [[fitCentroidModel]] (or internally by [[centroidClassifier]])
    * and applied by [[CentroidModel.scoreTokens]] — the SAME scoring
    * code serves the batch operator and the streaming sink, so
    * stream ≡ batch is structural, not re-implemented.
    */
  final case class CentroidModel(model: DataFrame, classes: DataFrame,
                                 vocab: DataFrame) {
    /** Score a (doc_id, tok, lbl) token frame. `lbl` rides through as
      * `actual` (pass a null literal when truth is unknown).
      */
    private[operators] def scoreTokens(test: DataFrame): DataFrame = {
      // per (test doc, class): Σ_t 2·c(t,cls) over model rows that
      // exist; the smoothing +1 per token folds into + n_toks
      val matched = test.join(model, Seq("tok"))
        .groupBy("doc_id", "cls")
        .agg(sum(col("c") * 2).as("m2"))
      val perDoc = test.groupBy("doc_id")
        .agg(count(lit(1)).as("n_toks"), max("lbl").as("actual"))
      // crossJoin(broadcast(...)) on |C|- and 1-row AGGREGATED frames:
      // pruning-safe because the broadcast builds read either the
      // caller's persisted token cache (batch operator) or the
      // sink's persisted model frames — never a re-derived corpus
      // subtree (the q137-lesson caveat the scriptMixture comment
      // documents)
      val scored = perDoc
        .crossJoin(broadcast(classes))       // |C| classes per doc
        .join(matched, Seq("doc_id", "cls"), "left")
        .crossJoin(broadcast(vocab))
        .select(col("doc_id"), col("n_toks"), col("actual"), col("cls"),
          ((coalesce(col("m2"), lit(0L)) + col("n_toks")).cast(DoubleType)
            / (col("n_c") * 2 + col("v")).cast(DoubleType)).as("score"))
      scored.groupBy("doc_id")
        .agg(max("n_toks").as("n_toks"), max("actual").as("actual"),
          min_by(struct(col("cls"), col("score")),
            struct((-col("score")).as("neg"), col("cls"))).as("__w"))
        .select(col("doc_id"), col("n_toks"), col("actual"),
          col("__w.cls").as("predicted"), col("__w.score").as("score"),
          (col("__w.cls") === col("actual")).as("hit"))
    }

    /** Persist the three model frames and materialize them (so a
      * long-lived scorer — the streaming sink — pays the training
      * derivation once, not per batch; the contaminationSink
      * discipline). Returns this for chaining.
      */
    def materialized(): CentroidModel = {
      Seq(model, classes, vocab).foreach { f =>
        f.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        f.count()
      }
      this
    }

    def unpersist(): Unit =
      Seq(model, classes, vocab).foreach(_.unpersist(false))
  }

  // model: (tok, lbl) -> occurrence count; totals: lbl -> N_c;
  // V = distinct train vocabulary (1-row frame).
  //
  // totals and vocab are RE-AGGREGATIONS of the model frame, not
  // separate corpus passes (round 14): N_c = Σ_tok c(tok, c) and
  // V = |{tok}| are both exactly recoverable from the (tok, cls, c)
  // counts, so the train tokens are aggregated ONCE and the two
  // summaries fold the vocabulary-sized model instead. The model is
  // persisted + filled here so its three consumers (score join,
  // totals, vocab) don't re-run the corpus aggregate (the
  // parallel-stage cache race); [[centroidClassifier]] drops the
  // cache once its output materializes, long-lived scorers own it
  // via [[CentroidModel.materialized]]/[[CentroidModel.unpersist]].
  private def fitOnTokens(train: DataFrame,
                          eager: Boolean = true): CentroidModel = {
    // `eager = false` is the tiny-corpus shape (see the
    // centroidClassifier gate): skipping the persist+fill barrier
    // lets the totals/vocab/scoring re-aggregations race the model
    // CONCURRENTLY inside one job — cheaper than two serial fill
    // jobs when each recompute is sub-second single-task work.
    val base = train.groupBy("tok", "lbl").agg(count(lit(1)).as("c"))
      .select(col("tok"), col("lbl").as("cls"), col("c"))
    val model =
      if (eager) {
        val m = base
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        m.count(): Unit
        m
      } else base
    CentroidModel(
      model,
      model.groupBy("cls").agg(sum("c").as("n_c")),
      model.agg(countDistinct(col("tok")).as("v")))
  }

  /** Fit a [[CentroidModel]] on a labeled training frame — the
    * standalone train half for long-lived scorers (streaming sinks,
    * repeated probes). The batch [[centroidClassifier]] trains the
    * identical arithmetic on its own id-split.
    */
  def fitCentroidModel(train: DataFrame, content: Column, id: Column,
                       label: Column): CentroidModel =
    fitOnTokens(tokens(train.filter(content.isNotNull && label.isNotNull),
      content, id, Seq("lbl" -> label)))

  /** Score arbitrary documents against a fitted model (the inference
    * half; `label` may be a null literal when truth is unknown —
    * `actual`/`hit` then come back null).
    */
  def scoreWithModel(docs: DataFrame, content: Column, id: Column,
                     label: Column, m: CentroidModel): DataFrame =
    m.scoreTokens(tokens(docs.filter(content.isNotNull), content, id,
      Seq("lbl" -> label)).select("doc_id", "tok", "lbl"))

  /** Oracle for [[centroidClassifier]] on the documents table:
    * identical integer arithmetic, argmax as a ROW_NUMBER window
    * (gate scale only).
    */
  def centroidClassifierOracle(modBase: Int = 5,
                               testSlice: Int = 0): String =
    s"""WITH toks AS MATERIALIZED (
       |  SELECT doc_id, lang AS lbl, UNNEST(REGEXP_EXTRACT_ALL(LOWER(text), '[a-z]+')) AS tok
       |  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL),
       |train AS (SELECT * FROM toks WHERE doc_id % $modBase != $testSlice),
       |test AS (SELECT * FROM toks WHERE doc_id % $modBase = $testSlice),
       |model AS (SELECT tok, lbl AS cls, COUNT(*) AS c FROM train GROUP BY 1, 2),
       |totals AS (SELECT lbl AS cls, COUNT(*) AS n_c FROM train GROUP BY 1),
       |vocab AS (SELECT COUNT(DISTINCT tok) AS v FROM train),
       |matched AS (
       |  SELECT t.doc_id, m.cls, SUM(m.c * 2) AS m2
       |  FROM test t JOIN model m ON t.tok = m.tok
       |  GROUP BY 1, 2),
       |per_doc AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks, MAX(lbl) AS actual
       |  FROM test GROUP BY 1),
       |scored AS (
       |  SELECT d.doc_id, d.n_toks, d.actual, c.cls,
       |    CAST(COALESCE(m.m2, 0) + d.n_toks AS DOUBLE)
       |      / CAST(c.n_c * 2 + v.v AS DOUBLE) AS score
       |  FROM per_doc d CROSS JOIN totals c CROSS JOIN vocab v
       |  LEFT JOIN matched m ON m.doc_id = d.doc_id AND m.cls = c.cls),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY doc_id ORDER BY score DESC, cls) AS rk
       |  FROM scored)
       |SELECT doc_id, n_toks, actual, cls AS predicted, score,
       |  cls = actual AS hit
       |FROM ranked WHERE rk = 1
       |ORDER BY doc_id""".stripMargin

  /** Per-class evaluation rollup of [[centroidClassifier]] — the
    * report production pipelines gate a filter model on before
    * deployment: per ACTUAL class, held-out doc count, hits,
    * exact accuracy, and the most common confusion (the predicted
    * class of the misses, ties to the smallest label).
    *
    * @return (actual, n_docs, n_hit, accuracy, top_confusion)
    */
  def classifierReport(docs: DataFrame, content: Column, id: Column,
                       label: Column, modBase: Int = 5,
                       testSlice: Int = 0): DataFrame =
    classifierReportFrom(centroidClassifier(docs, content, id, label,
      modBase, testSlice))

  /** The rollup half of [[classifierReport]], split out so a caller
    * holding an already-scored frame (the session-shared
    * materialization of [[centroidClassifier]] — the q208/q209 share)
    * can report without refitting. The fused [[classifierReport]]
    * delegates through this, so the two paths are value-identical by
    * construction (the `ivfadcTrain`/`simHashClustersFrom` split
    * discipline).
    */
  def classifierReportFrom(scored: DataFrame): DataFrame = {
    val confusion = scored.filter(!col("hit"))
      .groupBy("actual", "predicted").agg(count(lit(1)).as("n"))
      .groupBy("actual")
      .agg(min_by(col("predicted"),
        struct((-col("n")).as("neg"), col("predicted"))).as("top_confusion"))
    scored.groupBy("actual")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_hit"))
      .join(confusion, Seq("actual"), "left")
      .select(col("actual"), col("n_docs"), col("n_hit"),
        (col("n_hit").cast(DoubleType) / col("n_docs").cast(DoubleType))
          .as("accuracy"),
        col("top_confusion"))
  }

  /** Oracle for [[classifierReport]]. */
  def classifierReportOracle(modBase: Int = 5, testSlice: Int = 0): String =
    s"""WITH scored AS MATERIALIZED (
       |  ${centroidClassifierOracle(modBase, testSlice).replace("\n", "\n  ")}),
       |conf AS (
       |  SELECT actual, predicted, COUNT(*) AS n FROM scored
       |  WHERE NOT hit GROUP BY 1, 2),
       |top_conf AS (
       |  SELECT actual, predicted AS top_confusion FROM (
       |    SELECT actual, predicted,
       |      ROW_NUMBER() OVER (PARTITION BY actual
       |        ORDER BY n DESC, predicted) AS rk
       |    FROM conf) WHERE rk = 1)
       |SELECT s.actual, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN s.hit THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |  CAST(SUM(CASE WHEN s.hit THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS accuracy,
       |  MAX(t.top_confusion) AS top_confusion
       |FROM scored s LEFT JOIN top_conf t ON s.actual = t.actual
       |GROUP BY s.actual
       |ORDER BY s.actual""".stripMargin

  /** DSIR-style importance weights: score every RAW document by how
    * much more its unigram mass resembles the TARGET slice than the
    * raw corpus itself (data-selection-by-importance-resampling —
    * up-sample crawl data that looks like the curated target). The
    * published form weights by Σ log p_tgt/p_raw; the exact-integer
    * house form scores Σ_t [p_tgt(t) − p_raw(t)] — the same smoothed
    * distributions compared linearly instead of logarithmically
    * (rank-isomorphic for thresholded selection at matched doc
    * lengths; exactly replayable, see object doc). Both sides use
    * add-½ smoothing over the SHARED vocabulary V (distinct tokens of
    * raw ∪ target), so each side's score folds to one BIGINT
    * numerator over one constant denominator:
    * Σ_t (2·c(t)+1)/(2·N+V) = (2·Σ_t c(t) + T)/(2·N+V).
    *
    * @param isTarget row predicate marking the target slice; raw =
    *                 the complement (both sides tokenize once)
    * @return (doc_id, n_toks, tgt_score, raw_score, weight) per raw
    *         doc with ≥1 token; weight = tgt_score − raw_score
    */
  def importanceWeights(docs: DataFrame, content: Column, id: Column,
                        isTarget: Column): DataFrame = {
    // tokenize once (four consumers: two count frames, the raw score
    // join, the per-doc aggregate); drop the cache after the result
    // materializes
    val toks = tokens(docs.filter(content.isNotNull), content, id,
      Seq("is_tgt" -> isTarget))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    selfCleaningPersist(toks) {
    // fill the cache before the parallel consumers race (see
    // centroidClassifier — including the tiny-scan gate rationale);
    // inside the try so a fill failure still unpersists toks
    if (!graft.functions.Fns.tinyScan(
        docs.filter(content.isNotNull).select(content.as("__content"))))
      toks.count(): Unit
    // one conditional aggregate replaces the two filtered count frames
    // + full-outer join (round 14): a token seen on either side gets
    // its (c_t, c_r) pair in a single cache pass with zero join
    // shuffles. The is_tgt NOT NULL guard preserves the old semantics
    // exactly — occurrences with a null flag counted on NEITHER side
    // (both old filters dropped them), so they must not mint (0, 0)
    // vocabulary rows here either.
    val model = toks.filter(col("is_tgt").isNotNull)
      .groupBy("tok")
      .agg(sum(when(col("is_tgt"), 1L).otherwise(0L)).as("c_t"),
        sum(when(!col("is_tgt"), 1L).otherwise(0L)).as("c_r"))
    // 1-row constants frame: totals of both sides + shared vocab
    val consts = model.agg(sum("c_t").as("n_t"), sum("c_r").as("n_r"),
      count(lit(1)).as("v"))
    // every raw token exists in `model` (raw counts include it), so
    // an INNER join loses nothing; the +1 smoothing folds into + T
    val sums = toks.filter(!col("is_tgt")).join(model, Seq("tok"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"),
        sum(col("c_t") * 2).as("m2_t"), sum(col("c_r") * 2).as("m2_r"))
    // 1-row aggregated broadcast build over the persisted cache —
    // the same pruning-safety argument as the classifier above
    sums.crossJoin(broadcast(consts))
      .select(col("doc_id"), col("n_toks"),
        ((col("m2_t") + col("n_toks")).cast(DoubleType)
          / (col("n_t") * 2 + col("v")).cast(DoubleType)).as("tgt_score"),
        ((col("m2_r") + col("n_toks")).cast(DoubleType)
          / (col("n_r") * 2 + col("v")).cast(DoubleType)).as("raw_score"))
      .withColumn("weight", col("tgt_score") - col("raw_score"))
    }
  }

  /** Oracle for [[importanceWeights]] on the documents table with
    * `targetWhere` as the target-slice predicate.
    */
  def importanceWeightsOracle(targetWhere: String): String =
    s"""WITH toks AS MATERIALIZED (
       |  SELECT doc_id, ($targetWhere) AS is_tgt,
       |    UNNEST(REGEXP_EXTRACT_ALL(LOWER(text), '[a-z]+')) AS tok
       |  FROM documents WHERE text IS NOT NULL),
       |tc AS (SELECT tok, COUNT(*) AS c_t FROM toks WHERE is_tgt GROUP BY 1),
       |rc AS (SELECT tok, COUNT(*) AS c_r FROM toks WHERE NOT is_tgt GROUP BY 1),
       |model AS (
       |  SELECT COALESCE(tc.tok, rc.tok) AS tok,
       |    COALESCE(tc.c_t, 0) AS c_t, COALESCE(rc.c_r, 0) AS c_r
       |  FROM tc FULL JOIN rc ON tc.tok = rc.tok),
       |consts AS (
       |  SELECT SUM(c_t) AS n_t, SUM(c_r) AS n_r, COUNT(*) AS v FROM model),
       |sums AS (
       |  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
       |    SUM(m.c_t * 2) AS m2_t, SUM(m.c_r * 2) AS m2_r
       |  FROM toks t JOIN model m ON t.tok = m.tok
       |  WHERE NOT t.is_tgt GROUP BY 1)
       |SELECT doc_id, n_toks,
       |  CAST(m2_t + n_toks AS DOUBLE) / CAST(n_t * 2 + v AS DOUBLE) AS tgt_score,
       |  CAST(m2_r + n_toks AS DOUBLE) / CAST(n_r * 2 + v AS DOUBLE) AS raw_score,
       |  CAST(m2_t + n_toks AS DOUBLE) / CAST(n_t * 2 + v AS DOUBLE)
       |    - CAST(m2_r + n_toks AS DOUBLE) / CAST(n_r * 2 + v AS DOUBLE) AS weight
       |FROM sums CROSS JOIN consts
       |ORDER BY doc_id""".stripMargin
}
