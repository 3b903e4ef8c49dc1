package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PcaSpec extends SparkSpec {
  import spark.implicits._

  test("pc1 matches a dense driver-side power iteration") {
    // synthetic correlated features (a large eigengap — the regime the
    // operator is FOR; near-isotropic data has no meaningful PC1)
    val rnd = new scala.util.Random(11)
    val raw = (1 to 300).map { _ =>
      val a = rnd.nextGaussian() * 8.0
      val b = rnd.nextGaussian()
      Array((a + 0.1 * b).toFloat, (2.0 * a - b).toFloat,
        (0.5 * b + 1.0).toFloat, (a + 3.0).toFloat)
    }
    val df = raw.map(Tuple1(_)).toDF("f")
    val out = Pca.pc1(df, "f").orderBy("pos")
      .as[(Int, Double, Double)].collect()
    val loadings = out.map(_._2)
    val evShare = out.head._3
    assert(out.forall(_._3 == evShare)) // constant column

    // dense, unquantized driver reference
    val vecs = raw.map(_.map(_.toDouble))
    val n = vecs.length; val d = vecs.head.length
    val mean = Array.tabulate(d)(j => vecs.map(_(j)).sum / n)
    val cov = Array.tabulate(d, d) { (j, k) =>
      vecs.map(v => (v(j) - mean(j)) * (v(k) - mean(k))).sum / (n - 1)
    }
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    for (_ <- 1 to 200) {
      val w = Array.tabulate(d)(j => (0 until d).map(k => cov(j)(k) * v(k)).sum)
      val nrm = math.sqrt(w.map(x => x * x).sum)
      v = w.map(_ / nrm)
    }
    val lam = {
      val w = Array.tabulate(d)(j => (0 until d).map(k => cov(j)(k) * v(k)).sum)
      math.sqrt(w.map(x => x * x).sum)
    }
    val trace = (0 until d).map(j => cov(j)(j)).sum
    // align sign (power iteration may converge to -v)
    val sign = if (v.zip(loadings).map(p => p._1 * p._2).sum < 0) -1.0 else 1.0
    val maxDiff = v.zip(loadings).map(p => math.abs(p._1 * sign - p._2)).max
    assert(maxDiff < 1e-3, s"loadings off by $maxDiff")
    assert(math.abs(evShare - lam / trace) < 1e-3,
      s"ev_share $evShare vs ${lam / trace}")
    // unit vector, well-formed share
    val nrm = math.sqrt(loadings.map(x => x * x).sum)
    assert(math.abs(nrm - 1.0) < 1e-5)
    assert(evShare > 0.0 && evShare <= 1.0)
  }

  test("pc1 recovers a planted dominant direction") {
    // points spread along e0 with small noise on e1: PC1 ≈ ±e0
    val rnd = new scala.util.Random(5)
    val rows = (1 to 200).map { _ =>
      val t = rnd.nextGaussian() * 10.0
      val noise = rnd.nextGaussian() * 0.1
      Array(t.toFloat, noise.toFloat, 0.0f, 0.0f)
    }
    val df = rows.map(Tuple1(_)).toDF("embedding")
    val out = Pca.pc1(df, "embedding").orderBy("pos")
      .as[(Int, Double, Double)].collect()
    assert(math.abs(math.abs(out(0)._2) - 1.0) < 1e-3)
    assert(out.head._3 > 0.99)
  }

  test("pc1 rejects an empty column, naming it") {
    val df = Seq.empty[Tuple1[Array[Float]]].toDF("emb")
    val e = intercept[IllegalArgumentException](Pca.pc1(df, "emb"))
    assert(e.getMessage.contains("'emb'") && e.getMessage.contains("no rows"),
      e.getMessage)
  }

  test("pc1 rejects a single row (no sample covariance), naming the column") {
    val df = Seq(Tuple1(Array(1.0f, 2.0f, 3.0f))).toDF("emb")
    val e = intercept[IllegalArgumentException](Pca.pc1(df, "emb"))
    assert(e.getMessage.contains("'emb'") && e.getMessage.contains("at least 2 rows"),
      e.getMessage)
  }

  test("pc1 rejects ragged vector lengths, naming the column") {
    // a longer and a shorter vector than the first: both must be caught
    for (odd <- Seq(Array(1.0f, 2.0f, 3.0f, 4.0f), Array(1.0f))) {
      val df = Seq(Array(1.0f, 2.0f, 3.0f), Array(2.0f, 1.0f, 0.5f), odd,
        Array(0.0f, 1.0f, 1.0f)).map(Tuple1(_)).toDF("emb")
      val e = intercept[IllegalArgumentException](Pca.pc1(df, "emb"))
      assert(e.getMessage.contains("'emb'") &&
        e.getMessage.contains("different lengths"), e.getMessage)
    }
  }
}
