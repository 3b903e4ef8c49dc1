package graft.perfbench

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{lit, when}
import org.json4s.{JObject, JValue}
import org.json4s.JsonDSL._

import graft.SparkEntry
import graft.api.{Table, TableIO, ViewDef, ViewFilter, ViewRegistry}
import graft.operators.ChangeLog
import graft.perfbench.Json.Fields
import graft.tables.Tables

/** `table_ops`: a seeded mix of sea-serpent calls on the `Table` surface.
  * Each read loads its tables, builds the lazy frame through `graft.api`
  * and collects every row. Each write loads, edits, saves with
  * `Table.save` and reads the saved table back. Every call's result is
  * checked, after the timed loop, against the same query written as plain
  * Spark SQL over the raw parquet, bypassing `graft.api` and
  * `graft.tables`. A few calls run expression-only rows of
  * `SparkEntry.queries`, checked against their DuckDB oracle. */
final class TableOps(ctx: Ctx) extends Workload {
  import TableOps._
  private val spark = ctx.spark
  private val calls: IndexedSeq[JValue] =
    Json.read(s"${ctx.inputs}/table_ops.json").children.toIndexedSeq
  private val viewDir = s"${ctx.work}/views"
  private var pos = 0
  // (call spec, digest of what graft returned) for every timed call
  private val results = mutable.ArrayBuffer.empty[(JValue, String)]

  def setup(): Unit = {
    Seq("lineitem", "orders", "customer", "part").foreach(Tables.load(spark, ctx.data, _))
    Tables.events(spark, ctx.data)
    Views.foreach(v => ViewRegistry.save(viewDir, "orders", v))
  }

  /** Two full cycles from the far end of the stream, which the timed loop
    * never reaches: one cycle leaves the JIT visibly cold, and the first
    * timed calls would then run several times slower than the rest. */
  def warmUp(): Unit = {
    val last = calls.last.int("cycle")
    calls.filter(_.int("cycle") >= last - 1).foreach(run)
  }

  private def kindOf(c: JValue) =
    if (c.str("kind") == "query_row") c.str("row") else c.str("kind")

  /** Calls of each kind in one cycle of the stream. */
  override def facts(): JObject = "mix" -> calls.filter(_.int("cycle") == 0)
    .groupBy(kindOf).map { case (k, cs) => k -> cs.size }

  def nextKind: String = kindOf(calls(pos % calls.size))

  def next(): Sample = {
    val c = calls(pos % calls.size)
    pos += 1
    val kind = kindOf(c)
    var out: Result = null
    val s = ctx.call(kind, if (WriteKinds(kind)) "write" else "read") { out = run(c) }
    results += ((c, Main.digest(out.columns, out.rows.toSeq, out.ordered)))
    s.copy(extra = "rows" -> out.rows.length)
  }

  def finish(): Unit = ()

  def check(): (Long, Seq[String]) = {
    Seq("lineitem", "orders", "customer", "part", "events").foreach { t =>
      spark.read.parquet(s"${ctx.data}/$t.parquet").createOrReplaceTempView(s"raw_$t")
    }
    // each distinct call's expected answer, computed on four threads
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    def key(c: JValue) = Json.write(c.removeField(f => f._1 == "i" || f._1 == "cycle"))
    val expected = try Await.result(Future.traverse(
        results.map(_._1).groupBy(key).toSeq) { case (k, cs) => Future(k -> want(cs.head)) },
      Duration.Inf).toMap finally pool.shutdown()
    val rows = results.map(_._1).filter(_.str("kind") == "query_row").map(_.str("row")).distinct
    if (rows.nonEmpty)
      java.nio.file.Files.write(java.nio.file.Paths.get(s"${ctx.work}/verify/oracle_sql.json"),
        Json.write(rows.map(r => r -> SparkEntry.oracleSql(r)).toMap[String, String]).getBytes("UTF-8"))
    val fails = results.toSeq.collect { case (c, got) if got != expected(key(c)) =>
      s"table_ops call ${c.long("i")} (${c.str("kind")}) differs from its SQL twin"
    }
    (results.size.toLong, fails)
  }

  private def want(c: JValue): String =
    if (c.str("kind") == "query_row") verifiedRow(c.str("row"))
    else {
      val (q, ordered) = sql(c)
      val df = spark.sql(q)
      Main.digest(df.columns.toSeq, df.collect().toSeq, ordered)
    }

  /** A query row has no SQL twin here: its result is written once to
    * `verify/`, where the harness compares it with the row's oracle SQL in
    * DuckDB, and the digest of the written result is what the timed calls
    * must have returned. */
  private def verifiedRow(row: String): String = {
    val dir = s"${ctx.work}/verify"
    SparkEntry.queries(row)(spark, ctx.data).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/$row")
    val back = spark.read.parquet(s"$dir/$row")
    Main.digest(back.columns.toSeq, back.collect().toSeq, ordered = false)
  }

  // ---------------------------------------------------------------- calls

  private def run(c: JValue): Result = {
    val tr = ctx.trace
    def load(name: String): Table = tr.span("tables.load") {
      TableIO.fromFrame(
        if (name == "events") Tables.events(spark, ctx.data)
        else Tables.load(spark, ctx.data, name), name)
    }
    def api[T](fn: String)(body: => T): T = tr.span(s"api.$fn")(body)
    def collect(df: DataFrame, ordered: Boolean = false): Result =
      tr.span("spark.collect")(Result(df.columns.toSeq, df.collect(), ordered))
    def saveAndReadBack(t: Table): Result = {
      val path = s"${ctx.work}/saved/slot${c.long("i") % 4}"
      tr.span("tables.save")(t.save(path))
      collect(tr.span("tables.fromParquet")(
        TableIO.fromParquet(spark, path, "saved")).df)
    }
    c.str("kind") match {
      case "loc_cmp" =>
        val t = load(c.str("table"))
        val (col, v) = (t(c.str("col")), c.num("value"))
        val pred = c.str("op") match {
          case "<" => col < v
          case ">=" => col >= v
          case "==" => col === v
        }
        collect(api("loc")(t.loc(pred, c.strs("cols"))).df)
      case "loc_isin" =>
        val t = load(c.str("table"))
        collect(api("loc")(t.loc(t(c.str("col")).isin(c.longs("values"): _*))).df)
      case "loc_contains" =>
        val t = load(c.str("table"))
        collect(api("loc")(t.loc(t(c.str("col")).contains(c.str("pat")))).df)
      case "loc_startswith" =>
        val t = load(c.str("table"))
        collect(api("loc")(t.loc(t(c.str("col")).startswith(c.str("pat")))).df)
      case "select" =>
        val t = load(c.str("table"))
        collect(api("select")(t.select(c.strs("cols"): _*)).df)
      case "head" =>
        val t = load(c.str("table"))
        collect(api("head")(t.head(c.int("n"), t.df(c.str("order")).desc,
          t.df("o_orderkey"))), ordered = true)
      case "iloc" =>
        val t = load(c.str("table"))
        collect(api("iloc")(t.iloc(c.int("start"), c.int("stop"),
          t.df("o_orderkey"))), ordered = true)
      case "value_counts" =>
        val t = load(c.str("table"))
        collect(api("valueCounts")(t.valueCounts(c.str("col"))), ordered = true)
      case "link" =>
        val o = load("orders")
        val cu = load("customer")
        collect(api("link")(o.loc(o("o_custkey") < c.long("max_key"))
          .link(cu.loc(cu("c_mktsegment") === c.str("segment")),
            "o_custkey", "c_custkey")).df)
      case "linked_column" =>
        val o = load("orders")
        val l = load("lineitem")
        collect(api("addLinkedColumn")(o.loc(o("o_orderkey") < c.long("max_key"))
          .addLinkedColumn(l, "o_orderkey", "l_orderkey", c.str("value_col"),
            c.str("formula"), "agg")).df)
      case "view" =>
        val o = load("orders")
        collect(api("getView")(ViewRegistry.getView(o, viewDir, c.str("view"))))
      case "snapshot" =>
        val e = load("events")
        collect(api("snapshotAsOf")(ChangeLog.snapshotAsOf(e.df, "user_id",
          "ts", "event_id", asOf(c.int("as_of_day")), Seq("event_type", "value"))))
      case "query_row" =>
        collect(tr.span("queries.build")(
          SparkEntry.queries(c.str("row"))(spark, ctx.data)))
      case "set" =>
        val t = load("orders")
        saveAndReadBack(api("set")(t.set(c.str("col"),
          t.df(c.str("col")) * c.num("factor"))))
      case "set_where" =>
        val t = load("orders")
        saveAndReadBack(api("setWhere")(t.setWhere(
          t("o_totalprice") >= c.num("min_price"), c.str("col"), lit(c.str("status")))))
      case "append" =>
        val t = load("orders")
        val more = load("orders")
        saveAndReadBack(api("append")(t.append(
          more.loc(more("o_orderkey") < c.long("max_key")))))
      case "delete_rows" =>
        val t = load("orders")
        saveAndReadBack(api("deleteRows")(t.deleteRows(
          t("o_orderpriority") === c.str("priority"))))
      case "update_changed" =>
        val t = load("orders")
        val col = c.str("col")
        val changes = api("updateChanged")(t.updateChanged("o_orderkey", col,
          when(t("o_totalprice") < c.num("max_price"), lit(c.str("status")))
            .otherwise(t.df(col))))
        saveAndReadBack(TableIO.fromFrame(changes, "changes"))
    }
  }
}

object TableOps {
  final case class Result(columns: Seq[String], rows: Array[Row], ordered: Boolean)

  val WriteKinds = Set("set", "set_where", "append", "delete_rows", "update_changed")

  private def asOf(day: Int): Column =
    lit(f"2024-01-$day%02d 00:00:00").cast("timestamp")

  val Views = Seq(
    ViewDef("urgent_open",
      Seq(ViewFilter("o_orderpriority", "is", Seq("1-URGENT")),
        ViewFilter("o_orderstatus", "is", Seq("O"))),
      Seq("o_totalprice" -> false), Seq("o_custkey")),
    ViewDef("big_recent",
      Seq(ViewFilter("o_totalprice", "greater", Seq(400000.0)),
        ViewFilter("o_custkey", "less", Seq(200L))),
      Seq("o_orderkey" -> true), Seq("o_orderpriority")),
    ViewDef("priority_mix",
      Seq(ViewFilter("o_orderpriority", "is", Seq("2-HIGH")),
        ViewFilter("o_orderpriority", "is", Seq("3-MEDIUM")),
        ViewFilter("o_orderstatus", "is_not", Seq("F"))),
      Seq("o_custkey" -> true), Nil))

  private val ViewSql = Map(
    "urgent_open" -> ("SELECT o_orderkey, o_orderstatus, o_totalprice, " +
      "o_orderdate, o_orderpriority FROM raw_orders WHERE " +
      "o_orderpriority = '1-URGENT' AND o_orderstatus = 'O'"),
    "big_recent" -> ("SELECT o_orderkey, o_custkey, o_orderstatus, " +
      "o_totalprice, o_orderdate FROM raw_orders WHERE " +
      "o_totalprice > 400000.0D AND o_custkey < 200"),
    "priority_mix" -> ("SELECT * FROM raw_orders WHERE o_orderpriority IN " +
      "('2-HIGH', '3-MEDIUM') AND o_orderstatus <> 'F'"))

  private val OrdersCols =
    Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")

  private def q(s: String) = "'" + s.replace("'", "''") + "'"
  private def d(x: Double) = s"${x}D"

  /** The plain Spark SQL twin of a call over the raw parquet tables, and
    * whether its row order is part of the answer. */
  def sql(c: JValue): (String, Boolean) = {
    val col = if (c.has("col")) c.str("col") else ""
    def ordersWith(col: String, e: String) =
      OrdersCols.map(x => if (x == col) s"$e AS $x" else x).mkString(", ")
    c.str("kind") match {
      case "loc_cmp" =>
        val op = if (c.str("op") == "==") "=" else c.str("op")
        (s"SELECT ${c.strs("cols").mkString(", ")} FROM raw_${c.str("table")} " +
          s"WHERE $col $op ${d(c.num("value"))}", false)
      case "loc_isin" =>
        (s"SELECT * FROM raw_${c.str("table")} WHERE $col IN " +
          c.longs("values").mkString("(", ", ", ")"), false)
      case "loc_contains" =>
        (s"SELECT * FROM raw_${c.str("table")} WHERE contains($col, ${q(c.str("pat"))})", false)
      case "loc_startswith" =>
        (s"SELECT * FROM raw_${c.str("table")} WHERE startswith($col, ${q(c.str("pat"))})", false)
      case "select" =>
        (s"SELECT ${c.strs("cols").mkString(", ")} FROM raw_${c.str("table")}", false)
      case "head" =>
        (s"SELECT * FROM raw_${c.str("table")} ORDER BY ${c.str("order")} DESC " +
          s"NULLS LAST, o_orderkey LIMIT ${c.int("n")}", true)
      case "iloc" =>
        (s"SELECT * FROM raw_${c.str("table")} ORDER BY o_orderkey " +
          s"LIMIT ${c.int("stop") - c.int("start")} OFFSET ${c.int("start")}", true)
      case "value_counts" =>
        (s"SELECT $col, count(1) AS count FROM raw_${c.str("table")} " +
          s"GROUP BY $col ORDER BY count DESC, $col", true)
      case "link" =>
        (s"SELECT * FROM raw_orders o JOIN raw_customer c ON o.o_custkey = " +
          s"c.c_custkey WHERE o.o_custkey < ${c.long("max_key")} AND " +
          s"c.c_mktsegment = ${q(c.str("segment"))}", false)
      case "linked_column" =>
        val v = c.str("value_col")
        val exact = s"CAST(SUM(CAST($v AS DECIMAL(28,6))) AS DOUBLE)"
        val agg = c.str("formula") match {
          case "count_links" => s"COUNT($v)"
          case "rollup-sum" => exact
          case "rollup-avg" => s"$exact / COUNT($v)"
          case "findmax" => s"MAX($v)"
          case "findmin" => s"MIN($v)"
        }
        (s"SELECT o.*, a.agg FROM raw_orders o LEFT JOIN (SELECT l_orderkey " +
          s"AS k, $agg AS agg FROM raw_lineitem GROUP BY l_orderkey) a ON " +
          s"o.o_orderkey = a.k WHERE o.o_orderkey < ${c.long("max_key")}", false)
      case "view" => (ViewSql(c.str("view")), false)
      case "snapshot" =>
        val day = f"2024-01-${c.int("as_of_day")}%02d 00:00:00"
        (s"SELECT user_id, ts, event_id, event_type, value FROM (SELECT *, " +
          "row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, " +
          "event_id DESC) AS rn FROM (SELECT event_id, CAST(ts AS TIMESTAMP) " +
          "AS ts, user_id, event_type, value FROM raw_events) WHERE ts <= " +
          s"CAST('$day' AS TIMESTAMP)) WHERE rn = 1", false)
      case "set" =>
        (s"SELECT ${ordersWith(col, s"$col * ${d(c.num("factor"))}")} FROM raw_orders", false)
      case "set_where" =>
        (s"SELECT ${ordersWith(col, s"CASE WHEN o_totalprice >= " +
          s"${d(c.num("min_price"))} THEN ${q(c.str("status"))} ELSE $col END")} " +
          "FROM raw_orders", false)
      case "append" =>
        ("SELECT * FROM raw_orders UNION ALL SELECT * FROM raw_orders WHERE " +
          s"o_orderkey < ${c.long("max_key")}", false)
      case "delete_rows" =>
        (s"SELECT * FROM raw_orders WHERE NOT (o_orderpriority = " +
          s"${q(c.str("priority"))})", false)
      case "update_changed" =>
        (s"SELECT o_orderkey, n AS ${col}_new FROM (SELECT *, CASE WHEN " +
          s"o_totalprice < ${d(c.num("max_price"))} THEN ${q(c.str("status"))} " +
          s"ELSE $col END AS n FROM raw_orders) WHERE NOT (n <=> $col)", false)
    }
  }
}
