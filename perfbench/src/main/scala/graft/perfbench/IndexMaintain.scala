package graft.perfbench

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, Row, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.streaming.StreamingQuery
import org.json4s.{JNull, JObject, JValue}
import org.json4s.JsonDSL._

import graft.operators.{Dedup, Similarity}
import graft.perfbench.Json.Fields
import graft.streaming.EventStreams
import graft.tables.Tables

/** `index_maintain`: the write path of the persisted indexes. Set-up
  * writes a MinHash index over `documents` and an IVF-PQ index over
  * `embeddings`; each round then pushes one seeded text batch through
  * `EventStreams.minhashDedupStreamMaintained` and one seeded vector batch
  * through `annStreamMaintained` (MemoryStream `addData`, then
  * `processAllAvailable`), and every `CompactEvery` rounds compacts both
  * indexes while the streams are idle. */
final class IndexMaintain(ctx: Ctx) extends Workload {
  import IndexMaintain._
  private val spark = ctx.spark
  private implicit val sqlCtx: SQLContext = spark.sqlContext
  import spark.implicits._

  private val input = Json.read(s"${ctx.inputs}/index_maintain.json")
  private val rounds: IndexedSeq[Round] = input.arr("rounds").toIndexedSeq.map(r =>
    Round(r.arr("text").map(x => TextRow(x.long("id"), x.str("text"), copyOf(x))),
      r.arr("vec").map(x => VecRow(x.long("id"), x.doubles("vec"), copyOf(x)))))

  private val (bandsT, shinglesT) = Dedup.indexTables(Tag)
  private val (codesT, _, _, _) = Similarity.annIndexTables(Tag)
  // warehouse directory prefixes of every table of the two indexes
  private val indexPrefixes =
    Seq(bandsT.stripSuffix("_bands"), codesT.stripSuffix("_codes"))

  private var textMem: MemoryStream[(Long, String)] = _
  private var vecMem: MemoryStream[(Long, Seq[Double])] = _
  private var queries = Seq.empty[StreamingQuery]
  // what the stream callbacks saw last: (batch id, entry ns, exit ns, rows)
  @volatile private var seen: (Long, Long, Long, Array[Row]) = _
  private var round = 0
  private var phase = 0
  private val admitted = mutable.ArrayBuffer.empty[(Long, String)]
  private val inserted = mutable.ArrayBuffer.empty[(Long, Seq[Double])]
  private val failures = mutable.ArrayBuffer.empty[String]
  // (call, ids pushed, ids matched) of every text batch; (call, ids) of
  // every vector batch
  private val textBatches = mutable.ArrayBuffer.empty[(Long, Seq[Long], Set[Long])]
  private val vecBatches = mutable.ArrayBuffer.empty[(Long, Seq[Long])]

  private def corpusDocs: DataFrame = Tables.documents(spark, ctx.data)
    .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
  private def corpusVecs: DataFrame = Tables.embeddings(spark, ctx.data)
    .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))

  private def dropIndexes(tag: String): Unit = {
    val (b, s) = Dedup.indexTables(tag)
    val (c, v, co, p) = Similarity.annIndexTables(tag)
    Seq(b, s, Dedup.commitsTableName(b), c, v, co, p, Dedup.commitsTableName(c))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  def setup(): Unit = {
    dropIndexes(Tag)
    Dedup.writeMinhashIndex(corpusDocs, "doc_id", "text", Tag)
    Similarity.writeAnnIndex(corpusVecs, "vec_id", "embedding", Tag)
  }

  // one build of the two indexes, not three: each costs seconds that the
  // run's time budget needs for the timed loop; set-up time is steadied
  // by the median over runs instead
  override def setupReps: Int = 1

  def warmUp(): Unit = {
    textMem = MemoryStream[(Long, String)]
    vecMem = MemoryStream[(Long, Seq[Double])]
    val ck = s"${ctx.work}/stream-checkpoints"
    queries = Seq(
      EventStreams.minhashDedupStreamMaintained(
        textMem.toDS().toDF("doc_id", "text"), "doc_id", "text", Tag, Tau,
        s"$ck/text", callback),
      EventStreams.annStreamMaintained(
        vecMem.toDS().toDF("vec_id", "embedding"), "vec_id", "embedding", Tag,
        K, s"$ck/vec", callback))
    // the first round and one compaction of each index, untimed
    textBatch(rounds(0))
    vecBatch(rounds(0))
    Dedup.compactMinhashIndex(spark, Tag)
    Similarity.compactAnnIndex(spark, Tag)
    round = 1
  }

  private val callback: (Long, DataFrame) => Unit = (id, out) => {
    val t0 = Clock.now()
    val rows = out.collect()
    seen = (id, t0, Clock.now(), rows)
  }

  private def liveIds(table: String, idCol: String): Set[Long] = {
    spark.catalog.refreshTable(table)
    spark.table(table).select(idCol).distinct().collect().map(_.getLong(0)).toSet
  }

  /** One text batch: timed from `addData` to the return of
    * `processAllAvailable`. The copies it planted must be matched. */
  private def textBatch(r: Round): Sample = {
    val s = ctx.call("text_batch", "batch") {
      textMem.addData(r.text.map(t => (t.id, t.text)))
      queries(0).processAllAvailable()
    }
    val (_, cb0, cb1, hits) = seen
    val matched = hits.map(_.getLong(0)).toSet
    val missed = r.text.filter(t => t.copyOf.isDefined && !matched(t.id))
    if (missed.nonEmpty)
      failures += s"text batch ${s.call}: planted copies not matched: ${missed.map(_.id).mkString(",")}"
    admitted ++= r.text.filterNot(t => matched(t.id)).map(t => (t.id, t.text))
    textBatches += ((s.call, r.text.map(_.id), matched))
    s.copy(extra = batchExtra(r.text.size, s, cb0, cb1, queries(0)))
  }

  /** One vector batch: every vector is served against the pre-append index
    * and then inserted; a planted copy must be served its source. */
  private def vecBatch(r: Round): Sample = {
    val s = ctx.call("vec_batch", "batch") {
      vecMem.addData(r.vec.map(v => (v.id, v.vec)))
      queries(1).processAllAvailable()
    }
    val (_, cb0, cb1, served) = seen
    val byQuery = served.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val unserved = r.vec.filterNot(v => byQuery.contains(v.id))
    if (unserved.nonEmpty)
      failures += s"vector batch ${s.call}: not served: ${unserved.map(_.id).mkString(",")}"
    val missed = r.vec.filter(v => v.copyOf.exists(c => !byQuery.getOrElse(v.id, Set.empty[Long])(c)))
    if (missed.nonEmpty)
      failures += s"vector batch ${s.call}: planted copies not served their source: ${missed.map(_.id).mkString(",")}"
    inserted ++= r.vec.map(v => (v.id, v.vec))
    vecBatches += ((s.call, r.vec.map(_.id)))
    s.copy(extra = batchExtra(r.vec.size, s, cb0, cb1, queries(1)))
  }

  /** A batch's rows, its split at the callback (entered at `cb0`, returned
    * at `cb1`) and the micro-batch it ran as. */
  private def batchExtra(rows: Int, s: Sample, cb0: Long, cb1: Long,
                         q: StreamingQuery): JObject =
    ("rows" -> rows) ~ ("probe_ns" -> (cb0 - s.start)) ~
    ("append_commit_ns" -> (s.end - cb1)) ~ ("batch_id" -> seen._1) ~
    ("query_id" -> q.id.toString)

  def nextKind: String = phase match {
    case 0 => "text_batch"
    case 1 => "vec_batch"
    case 2 => "compact_minhash"
    case 3 => "compact_ann"
  }

  def next(): Sample = {
    val r = rounds(round % rounds.size)
    val s = phase match {
      case 0 => textBatch(r)
      case 1 => vecBatch(r)
      case 2 => compaction("compact_minhash")(Dedup.compactMinhashIndex(spark, Tag))
      case 3 => compaction("compact_ann")(Similarity.compactAnnIndex(spark, Tag))
    }
    phase += 1
    if (phase == 2 && (round + 1) % CompactEvery != 0) phase = 4
    if (phase == 4) { phase = 0; round += 1 }
    s
  }

  /** A compaction call; the index's bytes on disk before it are what it
    * rewrites. */
  private def compaction(kind: String)(body: => Unit): Sample = {
    val before = indexFiles()._2
    ctx.call(kind, "compact")(body).copy(extra = "bytes_rewritten" -> before)
  }

  def finish(): Unit = queries.foreach(_.stop())

  /** After the run: each text batch's rows were either matched or
    * admitted to the index (never both), and every vector was inserted.
    * Then the same seeded probe against the maintained indexes and against
    * indexes rebuilt from the corpus plus everything the streams admitted
    * must give the same answers. */
  def check(): (Long, Seq[String]) = {
    val inText = liveIds(shinglesT, "corpus_id")
    textBatches.foreach { case (call, ids, matched) =>
      val adm = ids.count(inText)
      if (matched.size + adm != ids.size || ids.exists(i => matched(i) && inText(i)))
        failures += s"text batch $call: matched ${matched.size} + admitted $adm != ${ids.size}"
    }
    val inVec = liveIds(codesT, "vid")
    vecBatches.foreach { case (call, ids) =>
      if (!ids.forall(inVec)) failures += s"vector batch $call: not every vector was inserted"
    }
    val probeText = input.arr("probe_text").map(x => (x.long("id"), x.str("text")))
      .toDF("doc_id", "text")
    val probeVecs = input.arr("probe_vec").map(x => (x.long("id"), x.doubles("vec")))
      .toDF("vec_id", "embedding")
    def textAnswers(tag: String) = Main.digest(Seq("batch_id", "corpus_id", "jaccard"),
      Dedup.minhashIncrementalPersisted(probeText, "doc_id", "text", tag, Tau)
        .select("batch_id", "corpus_id", "jaccard").collect().toSeq, ordered = false)
    def vecAnswers(tag: String) = Main.digest(Seq("query_id", "rank", "neighbor_id"),
      Similarity.annIvfPqServe(probeVecs, "vec_id", "embedding", tag, K)
        .select("query_id", "rank", "neighbor_id").collect().toSeq, ordered = false)
    // the two families share nothing, so their rebuilds run side by side
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val text = Future {
      val maintained = textAnswers(Tag)
      Dedup.writeMinhashIndex(corpusDocs.unionByName(admitted.toSeq.toDF("doc_id", "text")),
        "doc_id", "text", RebuiltTag)
      maintained == textAnswers(RebuiltTag)
    }
    val vec = Future {
      val maintained = vecAnswers(Tag)
      Similarity.writeAnnIndex(corpusVecs, "vec_id", "embedding", RebuiltTag)
      Similarity.appendAnnIndex(inserted.toSeq.toDF("vec_id", "embedding"),
        "vec_id", "embedding", RebuiltTag)
      maintained == vecAnswers(RebuiltTag)
    }
    val (textSame, vecSame) =
      try Await.result(text.zip(vec), Duration.Inf) finally pool.shutdown()
    dropIndexes(RebuiltTag)
    if (!textSame)
      failures += "text probe: maintained index answers differ from the rebuilt index"
    if (!vecSame)
      failures += "vector probe: maintained index answers differ from the rebuilt index"
    (textBatches.size + vecBatches.size + 2L, failures.toSeq)
  }

  /** (files, bytes) of every index table directory in the warehouse. */
  private def indexFiles(): (Long, Long) = {
    val wh = new java.io.File(s"${ctx.work}/warehouse")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = Option(wh.listFiles).toSeq.flatten
      .filter(d => indexPrefixes.exists(d.getName.startsWith))
      .flatMap(walk)
    (files.size.toLong, files.map(_.length).sum)
  }

  override def facts(): JObject = {
    val (files, bytes) = indexFiles()
    val live = Tables.documents(spark, ctx.data).count() + admitted.size +
      Tables.embeddings(spark, ctx.data).count() + inserted.size
    ("index_files" -> files) ~ ("index_bytes" -> bytes) ~ ("live_rows" -> live) ~
    ("mix" -> Map("text_batch" -> CompactEvery, "vec_batch" -> CompactEvery,
      "compact_minhash" -> 1, "compact_ann" -> 1))
  }
}

object IndexMaintain {
  final case class TextRow(id: Long, text: String, copyOf: Option[Long])
  final case class VecRow(id: Long, vec: Seq[Double], copyOf: Option[Long])
  final case class Round(text: Seq[TextRow], vec: Seq[VecRow])

  val Tag = "perfbench"
  val RebuiltTag = "perfbench_rebuilt"
  /** Jaccard threshold: the complete-recall operating point the
    * maintained-stream certificates use. */
  val Tau = 0.5
  /** Neighbours served per vector. */
  val K = 10
  /** Rounds between compactions. */
  val CompactEvery = 2

  private def copyOf(x: JValue): Option[Long] =
    if ((x \ "copy_of") == JNull) None else Some(x.long("copy_of"))
}
