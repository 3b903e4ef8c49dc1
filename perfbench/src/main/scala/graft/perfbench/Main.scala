package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.json4s.{JObject, JValue}
import org.json4s.JsonDSL._

/** One timed call of a closed loop. `kind` names what was called (a
  * `table_ops` call kind or query row, a stream batch or a compaction);
  * `group` says which latency family it belongs to (read, write, batch,
  * compact); `span` is the call's root span when the tracer
  * recorded, else 0. */
final case class Sample(call: Long, kind: String, group: String, start: Long,
                        end: Long, span: Long, extra: JObject = JObject())

/** What every workload shares: the session, the inputs, the per-run work
  * directory and the tracer, which `Main` switches on for the traced calls
  * of a traced run. */
final class Ctx(val spark: SparkSession, val inputs: String, val work: String) {
  val data: String = s"$inputs/data"
  @volatile var trace: Trace = Trace.Off
  private val calls = new java.util.concurrent.atomic.AtomicLong(0)

  /** Time `body` as one call; when tracing, the call is the root span. */
  def call(kind: String, group: String)(body: => Unit): Sample = {
    val t = trace
    val id = calls.incrementAndGet()
    var root = 0L
    val t0 = Clock.now()
    t.span(s"call.$kind") { root = t.current; body }
    Sample(id, kind, group, t0, Clock.now(), root)
  }
}

trait Workload {
  /** Build the workload's state from the inputs. Idempotent: `Main` runs
    * it `setupReps` times and reports the median as set-up time. */
  def setup(): Unit
  def setupReps: Int = 3
  /** Untimed first use of every call kind (JIT, code generation, file
    * caches). Part of set-up time. */
  def warmUp(): Unit
  /** The kind of call `next()` will issue. */
  def nextKind: String
  /** Issue the next call of the closed loop and return its sample. */
  def next(): Sample
  /** Stop anything the workload started. */
  def finish(): Unit
  /** Output checks, run after the timed loop. Returns (calls checked,
    * failure messages). */
  def check(): (Long, Seq[String])
  /** Workload facts for the report: `mix`, the calls of each kind in one
    * cycle of the workload, and for the indexes their files, bytes and
    * live rows. */
  def facts(): JObject = JObject()
}

object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    val cpus = Runtime.getRuntime.availableProcessors()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L

    val spark = session(cpus, work)
    val sessionS = (Clock.now() - jvmStart) / 1e9
    val ctx = new Ctx(spark, opt("inputs"), work)
    val w: Workload = workload match {
      case "table_ops" => new TableOps(ctx)
      case "index_maintain" => new IndexMaintain(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val reps = (1 to w.setupReps).map(_ => timed(w.setup()))
    val warm = timed(w.warmUp())

    // Closed loop: one client thread, the next call only after the last
    // one returned. A traced run traces every other call of each kind, and
    // half the kinds (by first appearance) start traced, the other half
    // untraced: each kind has traced and untraced calls at every stage of
    // the run, so their ratio is the tracing overhead and not the warm-up
    // drift between an early and a late part of the run. Listeners are
    // attached only for the traced calls.
    val samples = ArrayBuffer.empty[Sample]
    val failures = ArrayBuffer.empty[String]
    var attempted = 0L
    val deadline = Clock.now() + (seconds * 1e9).toLong
    val recording = if (traced) Some(new Trace.Recording(spark)) else None
    val kindIndex, kindCalls = mutable.Map.empty[String, Int]
    var gcMs, peakHeap = 0L
    def tracedCall(r: Trace.Recording)(body: => Sample): Sample = {
      val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
      heap.foreach(_.resetPeakUsage())
      val gc0 = gcMillis()
      r.register()
      ctx.trace = r
      try body
      finally {
        ctx.trace = Trace.Off
        r.drainAndUnregister()
        gcMs += gcMillis() - gc0
        peakHeap = peakHeap max heap.map(_.getPeakUsage.getUsed).sum
      }
    }
    while (Clock.now() < deadline) {
      attempted += 1
      try {
        val kind = w.nextKind
        val i = kindIndex.getOrElseUpdate(kind, kindIndex.size)
        val n = kindCalls.getOrElse(kind, 0)
        kindCalls(kind) = n + 1
        samples += (recording match {
          case Some(r) if (n + i) % 2 == 0 => tracedCall(r)(w.next())
          case _ => w.next()
        })
      } catch { case e: Throwable =>
        failures += s"call $attempted: ${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
      }
    }
    w.finish()
    val (checked, checkFailures) =
      try w.check()
      catch { case e: Throwable =>
        e.printStackTrace()
        (0L, Seq(s"check crashed: ${e.getClass.getName}: ${e.getMessage}"))
      }
    failures ++= checkFailures
    val facts = w.facts()
    val calib = { calibrate(); Seq(calibrate(), calibrate(), calibrate()).sorted.apply(1) }

    val out: JValue =
      ("workload" -> workload) ~
      ("cpus" -> cpus) ~
      ("calib_sec" -> calib) ~
      ("jvm" -> System.getProperty("java.version")) ~
      ("spark" -> spark.version) ~
      ("setup" -> (("session_s" -> sessionS) ~ ("state_s" -> reps) ~
        ("warmup_s" -> warm))) ~
      ("attempted" -> attempted) ~
      ("checked" -> checked) ~
      ("failures" -> failures.toList) ~
      ("samples" -> samples.toList.map(s =>
        ("call" -> s.call) ~ ("kind" -> s.kind) ~ ("group" -> s.group) ~
        ("start" -> s.start) ~ ("end" -> s.end) ~ ("span" -> s.span) ~
        ("extra" -> s.extra))) ~
      ("facts" -> facts) ~
      ("jvm_gc_ms" -> gcMs) ~
      ("jvm_peak_heap_bytes" -> peakHeap) ~
      ("trace" -> recording.map(_.toJson))
    java.nio.file.Files.write(java.nio.file.Paths.get(opt("out")),
      Json.write(out).getBytes("UTF-8"))
    spark.stop()
  }

  /** The session `graft.Bench` uses, with every file it writes kept under
    * the run's work directory. */
  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.checkpoint.dir", s"$work/checkpoint")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def gcMillis(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  /** `graft.Bench`'s calibration: a fixed single-threaded FNV-1a fold whose
    * wall time depends only on how fast the box is, never on graft. */
  def calibrate(): Double = {
    val buf = Array.tabulate[Byte](1 << 20)(i => (i * 31).toByte)
    val t0 = System.nanoTime()
    var acc = 0L
    var r = 0
    while (r < 400) {
      acc ^= graft.functions.SimHash64Impl.fnv1a64(buf)
      r += 1
    }
    if (acc == 42L) println("")
    (System.nanoTime() - t0) / 1e9
  }

  /** Order-insensitive (or, for ordered results, order-sensitive) digest
    * of collected rows. Columns are taken in name order and values are
    * normalised, so two plans that return the same table in a different
    * column order agree. */
  def digest(columns: Seq[String], rows: Seq[Row], ordered: Boolean): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => norm(r.get(i))).mkString("\u0001"))
    val all = (if (ordered) lines else lines.sorted).mkString("\n")
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest((columns.sorted.mkString(",") + "\n" + all).getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
  }

  private def norm(v: Any): String = v match {
    case null => "<null>"
    case d: Double => if (d.isNaN) "<nan>" else d.toString
    case f: Float => if (f.isNaN) "<nan>" else f.toDouble.toString
    case t: java.sql.Timestamp => micros(t.toInstant).toString
    case t: java.time.Instant => micros(t).toString
    case t: java.time.LocalDateTime =>
      micros(t.toInstant(java.time.ZoneOffset.UTC)).toString
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.stripTrailingZeros.toPlainString
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
    case x => x.toString
  }

  private def micros(i: java.time.Instant): Long =
    i.getEpochSecond * 1000000L + i.getNano / 1000
}
