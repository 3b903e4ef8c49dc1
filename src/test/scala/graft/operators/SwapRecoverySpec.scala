package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The swapRewriteTable crash-window contract (advisor r16): every
  * crash point of the rewrite-and-swap dance must be recoverable by
  * [[IndexStore.recoverSwappedTable]], INCLUDING the window after the
  * second rename where the live table and the `_o` park coexist —
  * previously a no-op state that left a partitioned live table serving
  * empty scans (its partition specs still pointed at the vanished `_c`
  * paths) and, worse, let a subsequent rewrite persist the empty scan
  * as silent data loss. Props/fingerprint now travel WITH the rename
  * (set on `_c` before the dance), so no crash point strips geometry. */
class SwapRecoverySpec extends SparkSpec {
  import spark.implicits._

  test("recoverSwappedTable finishes an interrupted swap: partitioned " +
      "live + park coexist, live specs point at vanished _c paths") {
    val t = "swap_rec_part"
    Seq(t, t + "_o", t + "_c").foreach(x =>
      spark.sql(s"DROP TABLE IF EXISTS $x"))
    // original (cell-partitioned, like the ANN codes table)
    Seq((1L, 1, 10), (2L, 2, 20), (3L, 3, 30)).toDF("vid", "cell", "code")
      .write.format("parquet").partitionBy("cell").saveAsTable(t)
    IndexStore.setTableFingerprint(spark, t, "3:111")
    // crash state: original parked, rewrite renamed in (props set on _c
    // BEFORE the dance — the fixed swapRewriteTable order), park alive
    spark.sql(s"ALTER TABLE $t RENAME TO ${t}_o")
    Seq((2L, 2, 20), (3L, 3, 30)).toDF("vid", "cell", "code")
      .repartition(col("cell"))
      .write.format("parquet").partitionBy("cell").saveAsTable(t + "_c")
    IndexStore.setTableFingerprint(spark, t + "_c", "2:97")
    spark.sql(s"ALTER TABLE ${t}_c RENAME TO $t")
    spark.catalog.refreshTable(t)
    // the hazard this spec pins: without recovery, the live partitioned
    // table's specs point at the vanished _c directory — scans serve
    // empty rows even though the data sits under the live location
    assert(spark.table(t).count() == 0L,
      "precondition: stale partition specs should serve empty")
    IndexStore.recoverSwappedTable(spark, t)
    assert(!spark.catalog.tableExists(t + "_o"), "park must drop")
    assert(spark.table(t).select("vid").as[Long].collect().toSet
      == Set(2L, 3L), "recovered live table must serve the rewrite")
    // the fingerprint travelled with the rename — geometry never lost
    assert(IndexStore.tableFingerprint(spark, t).contains("2:97"))
    // idempotent: a second recovery call is a no-op
    IndexStore.recoverSwappedTable(spark, t)
    assert(spark.table(t).count() == 2L)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("recoverSwappedTable finishes an interrupted swap on a plain " +
      "(bucketed-family) table and restores a between-renames park") {
    val t = "swap_rec_flat"
    Seq(t, t + "_o", t + "_c").foreach(x =>
      spark.sql(s"DROP TABLE IF EXISTS $x"))
    Seq((1L, "a"), (2L, "b")).toDF("corpus_id", "v")
      .write.format("parquet").saveAsTable(t)
    // live + park coexist (crash after second rename)
    spark.sql(s"ALTER TABLE $t RENAME TO ${t}_o")
    Seq((2L, "b")).toDF("corpus_id", "v")
      .write.format("parquet").saveAsTable(t)
    IndexStore.recoverSwappedTable(spark, t)
    assert(!spark.catalog.tableExists(t + "_o"))
    assert(spark.table(t).count() == 1L)
    // between-renames crash (live absent, park present): park restores
    spark.sql(s"ALTER TABLE $t RENAME TO ${t}_o")
    IndexStore.recoverSwappedTable(spark, t)
    assert(spark.catalog.tableExists(t) &&
      !spark.catalog.tableExists(t + "_o"))
    assert(spark.table(t).count() == 1L)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("annDriftReport opens the index under the lease: a parked codes " +
      "table is not renamed while another writer holds the lease") {
    val tag = "drift_lease_" + System.nanoTime()
    val emb = (1L to 40L).map { i =>
      val r = new scala.util.Random(i)
      (i, Seq.fill(8)(r.nextGaussian()))
    }.toDF("vec_id", "embedding")
    Similarity.writeAnnIndex(emb, "vec_id", "embedding", tag, nlist = 4)
    val (codesT, vecsT, coarseT, pqT) = Similarity.annIndexTables(tag)
    // the parked state a crash between the swap's renames leaves behind
    spark.sql(s"ALTER TABLE $codesT RENAME TO ${codesT}_o")
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() =>
      IndexStore.withMaintenanceLease(spark, codesT, "holder") {
        entered.countDown(); release.await()
      })
    holder.start()
    try {
      assert(entered.await(60, java.util.concurrent.TimeUnit.SECONDS))
      val e = intercept[IllegalStateException] {
        Similarity.annDriftReport(spark, tag)
      }
      assert(e.getMessage.contains("maintenance lease"), e.getMessage)
      assert(spark.catalog.tableExists(codesT + "_o") &&
        !spark.catalog.tableExists(codesT),
        "the report renamed a catalog table without the lease")
    } finally { release.countDown(); holder.join(60000) }
    // with the lease free, the report recovers the park and runs
    val rep = Similarity.annDriftReport(spark, tag).collect()
    assert(!spark.catalog.tableExists(codesT + "_o"))
    assert(rep.map(_.getAs[Long]("n_orig")).sum == 40L)
    (Seq(codesT, vecsT, coarseT, pqT) :+ Similarity.annStatsTable(tag))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
