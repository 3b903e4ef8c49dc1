package graft.functions

import graft.SparkSpec
import graft.api.Table
import graft.operators.{Dedup, Events, Similarity, TextAnalysis}
import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The Column handles carry their expressions, so graft's operators plan
  * on a session whose registry holds only Spark's builtins — and they
  * leave that registry as they found it. */
class UnregisteredSessionSpec extends SparkSpec {

  private def results(s: SparkSession): Seq[Seq[Row]] = {
    def read(t: String) = s.read.parquet(s"${sf()}/$t.parquet")
    def sorted(df: DataFrame) = df.collect().toSeq.sortBy(_.toString)
    val docs = read("documents")
    val orders = read("orders")
    Seq(
      sorted(Dedup.minhashPairs(docs, "doc_id", "text", tau = 0.5)),
      sorted(Similarity.annIvfPq(read("embeddings"), "vec_id", "embedding",
        (0L until 5L), 5, nlist = 8, nprobe = 4)),
      sorted(TextAnalysis.fingerprint(docs, "doc_id", "text")),
      sorted(Table(orders, "orders").describe(Seq("o_totalprice", "o_custkey"))),
      sorted(Events.robustOutliers(
        read("events").select("event_id", "event_type", "value"),
        "event_type", "value", "event_id", threshold = 2.0)),
      sorted(orders.groupBy("o_orderstatus")
        .agg(Dec6Micros.dec6Sum(col("o_totalprice")).as("s"))))
  }

  private def bySql(s: SparkSession) =
    s.range(1).selectExpr("simhash64(split('a b c', ' '))")

  private def assertUnregistered(s: SparkSession): Unit = {
    val e = intercept[AnalysisException](bySql(s))
    assert(e.getCondition == "UNRESOLVED_ROUTINE", e.getMessage)
  }

  test("operators run on a session with no graft functions registered, " +
    "equal the shared session's results, and register nothing") {
    // the by-name probe resolves once a session is registered
    val control = spark.newSession()
    GraftFunctions.ensureRegistered(control)
    assert(bySql(control).collect().length == 1)
    val fresh = spark.newSession()
    assertUnregistered(fresh)
    val got = results(fresh)
    assert(got == results(spark))
    assert(got.forall(_.nonEmpty), got.map(_.size))
    assertUnregistered(fresh)
  }
}
