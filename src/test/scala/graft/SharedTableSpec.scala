package graft

import java.util.concurrent.{Callable, Executors}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.operators.{Curate, Dedup}
import graft.pipeline.Lakehouse
import graft.tables.Tables

/** The session-shared tables of [[graft.queries.Extensions]] (here the
  * SimHash pair table behind q49/q67/q87/q137) publish through
  * [[graft.pipeline.Lakehouse.ctasSwap]]: a rebuild never disturbs a
  * frame planned before it, and concurrent first callers build once.
  */
class SharedTableSpec extends SparkSpec {

  private val Pairs = "graft_graph.simhash_pairs"

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq

  private def query(s: SparkSession, name: String, d: String): DataFrame =
    SparkEntry.queries(name)(s, d)

  test("a frame planned before a share rebuild still collects its answer") {
    val small = "/root/testdata/sf0.001"
    val expected = rows(query(spark, "q49_dedup_simhash", small))
    // resolved now, collected only after the rebuild below
    val planned = query(spark, "q49_dedup_simhash", small)
    // a new data dir is a new key: the share rebuilds under `planned`
    val rebuilt = rows(query(spark, "q49_dedup_simhash", "/root/testdata/sf0.01"))
    assert(rebuilt !== expected, "the rebuild must change the live table")
    assert(rows(planned) === expected)
  }

  test("concurrent first callers of the SimHash share publish one version") {
    val d = "/root/testdata/sf0.001"
    // start with no pair table at all, then race q49 and q87 to build it
    // on a fresh session
    spark.sql(s"DROP VIEW IF EXISTS $Pairs")
    Lakehouse.listVersions(spark, Pairs)
      .foreach(v => spark.sql(s"DROP TABLE ${Pairs}__v$v"))
    val fresh = spark.newSession()
    val pool = Executors.newFixedThreadPool(2)
    val (q49, q87) =
      try {
        val Seq(a, b) = Seq("q49_dedup_simhash", "q87_corpus_curation").map(n =>
          pool.submit(new Callable[Seq[Seq[Any]]] {
            def call(): Seq[Seq[Any]] = rows(query(fresh, n, d))
          }))
        (a.get(), b.get())
      } finally pool.shutdown()
    assert(Lakehouse.listVersions(fresh, Pairs) === Seq(0))
    // both answers equal the unshared operators (which build their own
    // pair graph)
    val docs = Tables.documents(spark, d)
    assert(q49.nonEmpty)
    assert(q49 === rows(Dedup.simHashPairs(docs, col("text"), col("doc_id"),
      maxHamming = 3).orderBy("doc_a", "doc_b")))
    assert(q87.nonEmpty)
    assert(q87 === rows(Curate.corpus(docs, col("text"), col("doc_id"))
      .orderBy("doc_id")))
  }
}
