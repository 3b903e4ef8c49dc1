package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** First-principal-component PCA over an embedding column — the
  * dimensionality-reduction member of the embedding family (Pearson
  * 1901; power iteration per von Mises–Geiringer). Publishes PC1's
  * per-dimension loadings and the share of total variance it explains —
  * the readout that decides whether a cheap linear projection is worth
  * shipping before ANN/clustering.
  *
  * Scale posture: the ONLY corpus-scale work is the sufficient-statistic
  * pass — per-dimension sums and the (j,k) cross-product sums, both
  * partial-agg groupBys over a scan-side double-explode fan-out (dim²
  * terms per row computed in the task, dim² ROWS shuffled total, never
  * per-pair joins). Those statistics are a dim²-bounded relation,
  * COLLECTED to the driver (the kmeansCodebook/centroidSnapshot
  * bounded-matrix precedent); the covariance and the 12 power-iteration
  * rounds then run driver-resident (r18, guide §5 job count — the r17
  * shape localCheckpointed a 64-row relation per round, paying ~15
  * driver-floor jobs for arithmetic over a few KB).
  *
  * Determinism (the pagerank discipline): every sum quantizes its terms
  * to DECIMAL(28,6) pre-sum (order-independent, ulp-proof), every
  * derived value is a fixed sequence of correctly-rounded IEEE ops
  * (sub/mul/div/sqrt), and the v₀ literal (1/√dim) is computed ONCE on
  * the driver and planted textually in both engines. With an
  * all-positive v₀ the iteration's sign is fixed; the oracle replays
  * all rounds as unrolled CTEs with every float op CAST AS DOUBLE. The
  * driver iteration replays Spark's own per-op semantics bit-for-bit:
  * cast(x AS DECIMAL(28,6)) is BigDecimal.valueOf(x).setScale(6,
  * HALF_UP) (Decimal.apply goes through Double.toString exactly like
  * valueOf, and changePrecision rounds HALF_UP), decimal sums are exact
  * adds, cast-to-double is BigDecimal.doubleValue — so the collected
  * fixpoint is the value the r17 distributed loop computed. */
object Pca {

  /** PC1 loadings + explained-variance share. Output: one row per
    * dimension (pos, loading 6dp, ev_share 6dp). `iters` power-iteration
    * rounds (12 separates eigenvalues ~1% apart; the spec checks
    * against a dense driver reference). Needs at least two rows of one
    * vector length; an empty column, a single row or ragged lengths are
    * rejected with an IllegalArgumentException naming the column. */
  def pc1(embeds: DataFrame, vecCol: String, iters: Int = 12): DataFrame = {
    require(iters >= 1 && iters <= 64, s"iters must be in [1,64], got $iters")
    val spark = embeds.sparkSession
    import spark.implicits._
    val D = org.apache.spark.sql.types.DataTypes.createDecimalType(28, 6)
    // one slim head row for the v0 literal (Similarity codebook precedent)
    val first = embeds.select(size(col(vecCol))).head(1)
    require(first.nonEmpty, s"Pca.pc1: column '$vecCol' has no rows")
    val dim = first.head.getInt(0)
    val v0 = 1.0 / math.sqrt(dim.toDouble)

    // sufficient statistics: S_j and SS_jk from one scan (two Generates,
    // no join) — C_jk = (SS_jk - S_j·S_k/n) / (n-1)
    val x = embeds.select(posexplode(col(vecCol)).as(Seq("j", "xj")),
        col(vecCol).as("__v"))
      .select(col("j"), col("xj").cast("double").as("xj"),
        posexplode(col("__v")).as(Seq("k", "xk")))
      .select(col("j"), col("k"), col("xj"),
        col("xk").cast("double").as("xk"))
    // per-dimension sums ride the same fan-out (each (row, j) appears
    // exactly once at k = 0) — no second scan
    val sums = x.filter(col("k") === 0).groupBy("j")
      .agg(sum(col("xj").cast(D)).cast("double").as("s"),
        count(lit(1)).as("n"))
    val stats = x.groupBy("j", "k")
      .agg(sum((col("xj") * col("xk")).cast(D)).cast("double").as("ss"))
      .join(broadcast(sums.select(col("j"), col("s").as("sj"), col("n"))), "j")
      .join(broadcast(sums.select(col("j").as("k"), col("s").as("sk"))), "k")
      .select(col("j"), col("k"), col("ss"), col("sj"), col("sk"), col("n"))

    // the dim²-bounded sufficient statistics come to the driver; the
    // covariance and the iteration run here with Spark-exact op semantics
    // (see class doc). A vector of another length than the first shows as
    // a position outside [0, dim) or as an uneven per-position count.
    val rows = stats.collect()
    require(rows.forall(r => r.getInt(0) < dim && r.getInt(1) < dim) &&
      rows.map(_.getLong(5)).distinct.length == 1,
      s"Pca.pc1: column '$vecCol' holds vectors of different lengths")
    val n = rows.head.getLong(5)
    require(n > 1, s"Pca.pc1: column '$vecCol' needs at least 2 rows, got $n")
    // C_jk = (SS_jk - S_j·S_k/n) / (n-1), the IEEE op order of the
    // Spark spelling (bigint n widened to double at each division)
    val C = Array.ofDim[Double](dim, dim)
    rows.foreach(r => C(r.getInt(0))(r.getInt(1)) =
      (r.getDouble(2) - r.getDouble(3) * r.getDouble(4) / n.toDouble) /
        (n - 1).toDouble)
    def q6(v: Double): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(v)
        .setScale(6, java.math.RoundingMode.HALF_UP)
    def sumQ6(xs: Iterator[Double]): Double =
      xs.foldLeft(java.math.BigDecimal.ZERO)((a, t) => a.add(q6(t)))
        .doubleValue
    val tr = sumQ6((0 until dim).iterator.map(j => C(j)(j)))
    def multiply(v: Array[Double]): Array[Double] =
      Array.tabulate(dim)(j =>
        sumQ6((0 until dim).iterator.map(k => C(j)(k) * v(k))))
    def norm(w: Array[Double]): Double =
      math.sqrt(sumQ6(w.iterator.map(t => t * t)))
    var v = Array.fill(dim)(v0)
    for (_ <- 1 to iters) {
      val w = multiply(v)
      val nrm = norm(w)
      v = w.map(_ / nrm)
    }
    // eigenvalue = ||C·v|| at the fixpoint (v is unit)
    val lam = norm(multiply(v))
    v.zipWithIndex.map { case (vj, j) => (j, vj) }.toSeq
      .toDF("pos", "__v")
      .select(col("pos"), round(col("__v"), 6).as("loading"),
        round(lit(lam / tr), 6).as("ev_share"))
  }
}
