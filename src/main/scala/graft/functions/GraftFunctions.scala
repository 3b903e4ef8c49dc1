package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.graft.Columns.{expr, of}
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}

import scala.collection.immutable.ArraySeq

/** graft's native expressions, reachable two ways.
  *
  *   - Column API: the handles on [[GraftFunctions]] build their Catalyst
  *     expression directly, so they plan on any session, registered or
  *     not. Every graft operator and query uses this route.
  *   - SQL strings (`spark.sql`, `expr`, `selectExpr`) resolve functions
  *     by name, so the session's registry must hold them: build it with
  *     `SparkSession.builder().withExtensions(GraftExtensions.inject)` (or
  *     `spark.sql.extensions=graft.functions.GraftExtensions`), or call
  *     `GraftFunctions.ensureRegistered(spark)` on a session graft didn't
  *     build. `Tables.load` does the latter, so raw SQL over
  *     `Tables.registerViews` resolves graft functions too.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = GraftExtensions.inject(e)
}

object GraftExtensions {
  private def info(clazz: Class[_], name: String) =
    new ExpressionInfo(clazz.getName, name)

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      (FunctionIdentifier("rolling_hash"), info(classOf[RollingHash], "rolling_hash"),
        (es: Seq[Expression]) => RollingHash(es.head)),
      (FunctionIdentifier("simhash64"), info(classOf[SimHash64], "simhash64"),
        (es: Seq[Expression]) => SimHash64(es.head)),
      (FunctionIdentifier("simhash_wide"), info(classOf[SimHashWide], "simhash_wide"),
        (es: Seq[Expression]) => SimHashWide(es.head, es(1).eval().asInstanceOf[Int])),
      (FunctionIdentifier("vec_dot"), info(classOf[VecDot], "vec_dot"),
        (es: Seq[Expression]) => VecDot(es.head, es(1))),
      (FunctionIdentifier("ham_xor"), info(classOf[HamXor], "ham_xor"),
        (es: Seq[Expression]) => HamXor(es.head, es(1))),
      (FunctionIdentifier("srp_sketch"), info(classOf[SrpSketch], "srp_sketch"),
        (es: Seq[Expression]) => SrpSketch(es.head,
          es(1).eval().asInstanceOf[Int], es(2).eval().asInstanceOf[Int],
          es(3).eval() match {
            case i: Int => i.toLong
            case l: Long => l
          })),
      (FunctionIdentifier("minhash_bands"), info(classOf[MinHashBands], "minhash_bands"),
        (es: Seq[Expression]) => MinHashBands(es.head,
          es(1).eval().asInstanceOf[Int], es(2).eval().asInstanceOf[Int])),
      (FunctionIdentifier("word_shingles"), info(classOf[WordShingles], "word_shingles"),
        (es: Seq[Expression]) => WordShingles(es.head, es(1).eval().asInstanceOf[Int])),
      (FunctionIdentifier("word_ngrams"), info(classOf[WordNgrams], "word_ngrams"),
        (es: Seq[Expression]) => WordNgrams(es.head, es(1).eval().asInstanceOf[Int])),
      // the micros table arrives as a foldable array<bigint> literal,
      // decoded once at resolution (vec_mat_cosines pattern)
      (FunctionIdentifier("dsir_score"), info(classOf[DsirScore], "dsir_score"),
        (es: Seq[Expression]) => DsirScore(es.head, DsirScore.fromLiteral(es(1)))),
      // the NB model arrives as four foldable array literals (vocab,
      // per-token lambda micros, OOV row, priors), decoded once at
      // resolution into the expression's reference-object hash map
      (FunctionIdentifier("nb_scores"), info(classOf[NbScores], "nb_scores"),
        (es: Seq[Expression]) => NbScores(es.head,
          NbScores.fromStringLiteral(es(1)),
          NbScores.fromNestedLongLiteral(es(2)),
          NbScores.fromLongLiteral(es(3)),
          NbScores.fromLongLiteral(es(4)))),
      (FunctionIdentifier("fnv1a64"), info(classOf[Fnv1a64Col], "fnv1a64"),
        (es: Seq[Expression]) => Fnv1a64Col(es.head,
          es(1).eval().asInstanceOf[Long])),
      (FunctionIdentifier("word_chunks"), info(classOf[WordChunks], "word_chunks"),
        (es: Seq[Expression]) => WordChunks(es.head,
          es(1).eval().asInstanceOf[Int], es(2).eval().asInstanceOf[Int])),
      (FunctionIdentifier("nfc_normalize"), info(classOf[NfcNormalize], "nfc_normalize"),
        (es: Seq[Expression]) => NfcNormalize(es.head)),
      // the codebook argument is a foldable nested-array literal, decoded
      // ONCE at resolution into the expression's reference-object matrix
      (FunctionIdentifier("vec_mat_cosines"), info(classOf[VecMatCosines], "vec_mat_cosines"),
        (es: Seq[Expression]) => VecMatCosines(es.head, VecMatCosines.fromLiteral(es(1)))),
      (FunctionIdentifier("media_header"), info(classOf[MediaHeader], "media_header"),
        (es: Seq[Expression]) => MediaHeader(es.head)),
      (FunctionIdentifier("html_text"), info(classOf[HtmlText], "html_text"),
        (es: Seq[Expression]) => HtmlText(es.head)),
      (FunctionIdentifier("audio_header"), info(classOf[AudioHeader], "audio_header"),
        (es: Seq[Expression]) => AudioHeader(es.head)),
      (FunctionIdentifier("mp4_header"), info(classOf[Mp4Header], "mp4_header"),
        (es: Seq[Expression]) => Mp4Header(es.head)),
      (FunctionIdentifier("image_dhash"), info(classOf[ImageDhash], "image_dhash"),
        (es: Seq[Expression]) => ImageDhash(es.head,
          es(1).eval().asInstanceOf[Int], es(2).eval().asInstanceOf[Int])),
      (FunctionIdentifier("bmp_synth"), info(classOf[BmpSynth], "bmp_synth"),
        (es: Seq[Expression]) => BmpSynth(es.head, es(1), es(2))),
      (FunctionIdentifier("pcm_fingerprint"), info(classOf[PcmFingerprint], "pcm_fingerprint"),
        (es: Seq[Expression]) => PcmFingerprint(es.head,
          es(1).eval().asInstanceOf[Int], es(2).eval().asInstanceOf[Int])),
      (FunctionIdentifier("wav_synth"), info(classOf[WavSynth], "wav_synth"),
        (es: Seq[Expression]) => WavSynth(es.head, es(1), es(2))),
      (FunctionIdentifier("video_dhash"), info(classOf[VideoDhash], "video_dhash"),
        (es: Seq[Expression]) => VideoDhash(es.head,
          es(1).eval().asInstanceOf[Int], es(2).eval().asInstanceOf[Int],
          es(3).eval().asInstanceOf[Int])),
      // vocabularies arrive as a foldable nested-array literal, decoded
      // once at resolution (same pattern as vec_mat_cosines)
      (FunctionIdentifier("marker_counts"), info(classOf[MarkerCounts], "marker_counts"),
        (es: Seq[Expression]) => MarkerCounts(es.head, {
          val a = es(1).eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          (0 until a.numElements()).map(i => a.getArray(i).toObjectArray(
            org.apache.spark.sql.types.StringType).map(_.toString).toSeq)
        })),
      (FunctionIdentifier("repetition_stats"), info(classOf[RepetitionStats], "repetition_stats"),
        (es: Seq[Expression]) => RepetitionStats(es.head)),
      (FunctionIdentifier("text_quality_stats"),
        info(classOf[QualityStats], "text_quality_stats"),
        (es: Seq[Expression]) => QualityStats(es.head)),
      (FunctionIdentifier("byte_histogram"), info(classOf[ByteHistogram], "byte_histogram"),
        (es: Seq[Expression]) => ByteHistogram(es.head, es(1).eval().asInstanceOf[Int])),
      (FunctionIdentifier("srp_signature"), info(classOf[SrpSignature], "srp_signature"),
        (es: Seq[Expression]) => SrpSignature(es.head, es(1).eval().asInstanceOf[Int],
          if (es.length > 2) es(2).eval() match {
            case i: Int => i.toLong
            case l: Long => l
          } else 0L)),
      (FunctionIdentifier("dec6_micros"), info(classOf[Dec6Micros], "dec6_micros"),
        (es: Seq[Expression]) => Dec6Micros(es.head)),
      // drop-in exact-quantile anchor: bit-compatible with the builtin
      // percentile but with an unboxed flat buffer (see ExactPercentile);
      // the analyzer wraps the returned AggregateFunction like any builtin
      (FunctionIdentifier("char_pairs"), info(classOf[CharPairs], "char_pairs"),
        (es: Seq[Expression]) => CharPairs(es.head)),
      // k rides as a literal (like byte_histogram's nbins); the probe is
      // a pure scan-side boolean — the pre-shuffle pruning filter
      (FunctionIdentifier("bloom_contains"),
        info(classOf[BloomContains], "bloom_contains"),
        (es: Seq[Expression]) => BloomContains(es.head, es(1),
          // a typed analysis error beats the ClassCastException/NPE a
          // BIGINT literal or non-foldable k would otherwise throw here
          es(2).eval() match {
            case i: Int => i
            case l: Long => l.toInt
            case other => throw new IllegalArgumentException(
              s"bloom_contains: the k argument must be an INT or BIGINT " +
                s"literal, got ${Option(other).getOrElse("a non-foldable expression")}")
          })),
      (FunctionIdentifier("exact_percentile"),
        info(classOf[ExactPercentile], "exact_percentile"),
        (es: Seq[Expression]) => {
          val (ps, isArray) = ExactPercentile.percentagesFromLiteral(es(1))
          ExactPercentile(Cast(es.head, DoubleType), ps, isArray)
        })
    )

  def inject(e: SparkSessionExtensions): Unit =
    all.foreach { case (id, fi, builder) => e.injectFunction((id, fi, builder)) }
}

object GraftFunctions {
  /** Register on an existing session (idempotent) — the SQL-string route;
    * the Column handles below need no registration. */
  def ensureRegistered(spark: SparkSession): Unit = {
    val reg = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    GraftExtensions.all.foreach { case (id, fi, builder) =>
      reg.registerFunction(id, fi, builder)
    }
  }

  def rolling_hash(c: Column): Column = of(RollingHash(expr(c)))
  def simhash64(c: Column): Column = of(SimHash64(expr(c)))
  def simhash_wide(c: Column, parts: Int): Column = of(SimHashWide(expr(c), parts))
  def vec_dot(a: Column, b: Column): Column = of(VecDot(expr(a), expr(b)))
  def ham_xor(a: Column, b: Column): Column = of(HamXor(expr(a), expr(b)))
  def srp_sketch(v: Column, words: Int, planesPerWord: Int,
                 seedBase: Long): Column =
    of(SrpSketch(expr(v), words, planesPerWord, seedBase))
  def minhash_bands(shingles: Column, numPerm: Int, bands: Int): Column =
    of(MinHashBands(expr(shingles), numPerm, bands))
  def word_shingles(text: Column, w: Int): Column = of(WordShingles(expr(text), w))
  def word_ngrams(text: Column, n: Int): Column = of(WordNgrams(expr(text), n))
  def fnv1a64(s: Column, basis: Long): Column = of(Fnv1a64Col(expr(s), basis))
  def nb_scores(toks: Column, vocab: Seq[String], lam: Seq[Seq[Long]],
                oov: Seq[Long], prior: Seq[Long]): Column =
    of(NbScores(expr(toks), vocab.toArray, lam.map(_.toArray).toArray,
      oov.toArray, prior.toArray))
  def dsir_score(feats: Column, lamMicros: Seq[Long]): Column =
    of(DsirScore(expr(feats), lamMicros.toArray))
  def word_chunks(text: Column, size: Int, stride: Int): Column =
    of(WordChunks(expr(text), size, stride))
  def nfc_normalize(text: Column): Column = of(NfcNormalize(expr(text)))
  def char_pairs(text: Column): Column = of(CharPairs(expr(text)))
  def bloom_contains(words: Column, key: Column, k: Int): Column =
    of(BloomContains(expr(words), expr(key), k))
  def media_header(payload: Column): Column = of(MediaHeader(expr(payload)))
  def html_text(html: Column): Column = of(HtmlText(expr(html)))
  def audio_header(payload: Column): Column = of(AudioHeader(expr(payload)))
  def mp4_header(payload: Column): Column = of(Mp4Header(expr(payload)))
  def image_dhash(payload: Column, gcols: Int, grows: Int): Column =
    of(ImageDhash(expr(payload), gcols, grows))
  def bmp_synth(src: Column, shift: Column, bump: Column): Column =
    of(BmpSynth(expr(src), expr(shift), expr(bump)))
  def pcm_fingerprint(payload: Column, wins: Int, phases: Int): Column =
    of(PcmFingerprint(expr(payload), wins, phases))
  def wav_synth(src: Column, gain: Column, bump: Column): Column =
    of(WavSynth(expr(src), expr(gain), expr(bump)))
  def video_dhash(payload: Column, frames: Int, gcols: Int, grows: Int): Column =
    of(VideoDhash(expr(payload), frames, gcols, grows))
  // ArraySeq vocabularies, as the registered function decodes them, so a
  // plan prints the same text whichever route built it
  def marker_counts(toks: Column, vocabs: Seq[Seq[String]]): Column =
    of(MarkerCounts(expr(toks), vocabs.map(ArraySeq.from(_))))
  def vec_mat_cosines(v: Column, mat: Array[Array[Double]]): Column =
    of(VecMatCosines(expr(v), mat))
  def repetition_stats(toks: Column): Column = of(RepetitionStats(expr(toks)))
  def text_quality_stats(text: Column): Column = of(QualityStats(expr(text)))
  def byte_histogram(payload: Column, buckets: Int): Column =
    of(ByteHistogram(expr(payload), buckets))
  def srp_signature(v: Column, numPlanes: Int, seed: Long = 0L): Column =
    of(SrpSignature(expr(v), numPlanes, seed))
  def dec6_micros(v: Column): Column = of(Dec6Micros(expr(v)))
  /** Exact quantile aggregate (see [[ExactPercentile]]): one percentage
    * returns DOUBLE, several return ARRAY<DOUBLE> in the given order. The
    * input is cast to DOUBLE, as the registered function does. */
  def exact_percentile(c: Column, ps: Double*): Column =
    of(ExactPercentile(Cast(expr(c), DoubleType), ps.toArray, ps.length > 1)
      .toAggregateExpression())
}
