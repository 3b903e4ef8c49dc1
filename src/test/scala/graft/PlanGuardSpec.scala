package graft

import org.apache.spark.sql.execution.FormattedMode

/** Programmatic plan guards (r8 verdict #4): the prose audits in
  * PLANS_r{N}.txt show pushdown held on the day they were written; this
  * spec FAILS the build if a later shared-code edit (Tables, dsum, api
  * wrappers) silently un-pushes a filter or un-prunes a projection.
  * Checks run on the formatted physical plan of the real SparkEntry
  * queries at sf0.001.
  */
class PlanGuardSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf()).queryExecution
      .explainString(FormattedMode)

  /** All PushedFilters lists of every parquet scan in the plan. */
  private def pushed(plan: String): Seq[String] =
    "PushedFilters: \\[([^\\]]*)\\]".r.findAllMatchIn(plan)
      .map(_.group(1)).toSeq

  /** All ReadSchema column-name lists of every parquet scan. */
  private def readCols(plan: String): Seq[Seq[String]] =
    "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(plan)
      .map(_.group(1).split(",").map(_.trim.takeWhile(_ != ':'))
        .filter(_.nonEmpty).toSeq).toSeq

  // every reference-surface filter query must reach the scan with a
  // predicate on its filter column — an empty or unrelated PushedFilters
  // list means a regression re-materialized the full table
  private val filterGuards = Map(
    "q_filter_cmp" -> "l_quantity",
    "q_filter_isin" -> "c_mktsegment",
    "q_filter_contains" -> "p_name",
    "q_filter_startswith" -> "p_type",
    "q_filter_endswith" -> "p_name",
    "q_filter_combo" -> "o_totalprice",
    "q_filter_null" -> "lang",
    "q_row_lookup" -> "o_orderkey",
    // (q_multiselect_contains is NOT here: array_contains has no parquet
    // filter class — the predicate evaluates post-scan by design)
    "q3_topk" -> "c_mktsegment")

  test("filter queries keep their predicates pushed into the parquet scan") {
    filterGuards.foreach { case (name, colName) =>
      val p = plan(name)
      val lists = pushed(p)
      assert(lists.exists(l => l.nonEmpty && l.contains(colName)),
        s"$name: no parquet scan pushes a filter on '$colName' " +
          s"(PushedFilters lists: $lists)\n$p")
    }
  }

  test("projection queries keep the read schema pruned") {
    // q_select_cols selects 3 customer columns — the scan must not read
    // the whole 8-column table
    val sel = readCols(plan("q_select_cols"))
    assert(sel.nonEmpty && sel.forall(_.size <= 3),
      s"q_select_cols reads unpruned schema: $sel")
    // q1_agg touches exactly the 7 lineitem columns its filter + grouping
    // + aggregates need (of 16 in the table)
    val agg = readCols(plan("q1_agg"))
    assert(agg.nonEmpty && agg.forall(_.size <= 7),
      s"q1_agg reads unpruned schema: $agg")
    // the linked rollup needs only the join key + aggregated column on
    // the fact side
    val roll = readCols(plan("q_linked_rollup_sum"))
    assert(roll.exists(_.size <= 3),
      s"q_linked_rollup_sum has no pruned fact scan: $roll")
  }

  test("quality/selection queries keep their scale shapes") {
    // the Gopher gate is a pure scan-side projection: pruned 2-column
    // read, and no Exchange other than the final orderBy's range
    // partitioning
    val g = plan("q_quality_gopher")
    val gCols = readCols(g)
    assert(gCols.nonEmpty && gCols.forall(_.size <= 2),
      s"q_quality_gopher reads unpruned schema: $gCols")
    // tree lines only ("+- Exchange") — the detail section repeats each
    // node name once more
    assert("[+:]- Exchange".r.findAllIn(g).size <= 1,
      s"q_quality_gopher gained a non-orderBy shuffle\n$g")
    // DSIR: the 256-row lambda table must BROADCAST onto the feature
    // stream — a sort-merge join there would shuffle every n-gram
    // occurrence by bucket key
    val p = plan("q_dsir_weights")
    assert(p.contains("BroadcastHashJoin"),
      s"q_dsir_weights lost the lambda-table broadcast\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q_dsir_weights degraded to a sort-merge join\n$p")
    assert(readCols(p).forall(_.size <= 3),
      s"q_dsir_weights reads unpruned schema: ${readCols(p)}")
  }

  test("r9-late additions keep their scale shapes") {
    // NB scoring: the size-gated vocabulary must BROADCAST onto the
    // token stream (a sort-merge join would shuffle every token
    // occurrence by token), and the documents scan reads only
    // (doc_id, lang, text)
    val nb = plan("q_classify_nb")
    assert(nb.contains("BroadcastHashJoin"),
      s"q_classify_nb lost the vocabulary broadcast\n$nb")
    assert(!nb.contains("SortMergeJoin"),
      s"q_classify_nb degraded to a sort-merge join\n$nb")
    assert(readCols(nb).forall(_.size <= 3),
      s"q_classify_nb reads unpruned schema: ${readCols(nb)}")
    // fuzzy join: every part scan reads only (p_partkey, p_name) — the
    // one CartesianProduct in the plan is the bounded short-string
    // bucket (empty on this fixture), not the candidate path, which
    // DedupSpec-style equi-joins on grams
    val fz = plan("q_fuzzy_join")
    assert(readCols(fz).forall(_.size <= 2),
      s"q_fuzzy_join reads unpruned schema: ${readCols(fz)}")
    // (q_semdedup's no-cartesian pair join is asserted in DedupSpec)
  }

  test("r10 additions keep their scale shapes") {
    // bipartite embed incremental: candidates come from the (tbl, sig)
    // band EQUI-join, never a cartesian / nested-loop over the corpus,
    // and every embeddings scan reads only (vec_id, embedding)
    val inc = plan("q_dedup_embed_incremental")
    assert(!inc.contains("CartesianProduct"),
      s"q_dedup_embed_incremental grew a cartesian pair join\n$inc")
    assert(!inc.contains("BroadcastNestedLoopJoin"),
      s"q_dedup_embed_incremental grew a nested-loop pair join\n$inc")
    assert(readCols(inc).forall(_.size <= 2),
      s"q_dedup_embed_incremental reads unpruned schema: ${readCols(inc)}")
  }

  test("dimension joins broadcast (no SortMergeJoin in q3_topk)") {
    val p = plan("q3_topk")
    assert(p.contains("BroadcastHashJoin"),
      s"q3_topk lost its broadcast joins\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q3_topk degraded to a sort-merge join\n$p")
  }

  test("r12 web-curation additions keep their scale shapes") {
    // C4 filter is a pure scan projection: the ONLY exchange allowed is
    // the trailing oracle-harness orderBy (a range Exchange above the
    // projection), never one below a join/agg — and the scan reads only
    // (doc_id, text)
    val c4 = plan("q_c4_line_filter")
    assert("""\(\d+\) Exchange""".r.findAllIn(c4).size <= 1,
      s"q_c4_line_filter grew a data-sized shuffle beyond the orderBy\n$c4")
    assert(readCols(c4).forall(_.size <= 2),
      s"q_c4_line_filter reads unpruned schema: ${readCols(c4)}")

    // url dedup must partial-aggregate map-side: partial+final
    // HashAggregate pair around its one agg exchange
    val ud = plan("q_url_dedup")
    assert("""\(\d+\) HashAggregate""".r.findAllIn(ud).size >= 2,
      s"q_url_dedup lost its map-side partial aggregation\n$ud")

    // the salted domain cap keeps BOTH window passes (salt prune +
    // final) — collapsing to one window re-creates the hot-host
    // straggler this op exists to avoid
    val dc = plan("q_domain_cap")
    assert("""\(\d+\) Window""".r.findAllIn(dc).size >= 2,
      s"q_domain_cap lost its salt-prune window pass\n$dc")

    // sft masks: the two window functions share ONE partitioning — a
    // second data exchange means the frames diverged
    val sm = plan("q_sft_masks")
    assert("""\(\d+\) Exchange""".r.findAllIn(sm).size <= 2, // window + orderBy
      s"q_sft_masks windows no longer share their exchange\n$sm")

    // boilerplate cut joins flags back on the hash — never a
    // nested-loop/cartesian on paragraph text
    val bc = plan("q_boilerplate_cut")
    assert(!bc.contains("CartesianProduct") &&
      !bc.contains("BroadcastNestedLoopJoin"),
      s"q_boilerplate_cut degraded to an all-pairs join\n$bc")

    // vocab report: the top-K mass must keep its salted prune (two
    // window passes) — one window means the full per-source vocabulary
    // sorts in a single partition
    val vr = plan("q_vocab_report")
    assert("""\(\d+\) Window""".r.findAllIn(vr).size >= 2,
      s"q_vocab_report lost its salted top-K prune\n$vr")

    // sft pack: conversations assemble once (a sort-aggregate on
    // user_id), then the FFD walk — never a cartesian
    val sp = plan("q_sft_pack")
    assert(!sp.contains("CartesianProduct") &&
      !sp.contains("BroadcastNestedLoopJoin"),
      s"q_sft_pack grew an all-pairs join\n$sp")

    // crawl funnel: the winner selection is ONE window over canon_url;
    // the events-sized data must not shuffle more than (canon window +
    // source agg + orderBy)
    val cf = plan("q_crawl_funnel")
    assert("""\(\d+\) Exchange""".r.findAllIn(cf).size <= 4,
      s"q_crawl_funnel gained unexpected shuffles\n$cf")
  }

  test("r13: persisted band-signature index joins with ZERO corpus-side " +
       "Exchange (judge r12 ask #2)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.col
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // disable broadcast: at sf0.001 the batch side would broadcast and
      // the bucketed layout would sit unused — the 100 TB claim is the
      // SMJ path reading both index tables co-partitioned
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val docs = graft.tables.Tables.documents(spark, sf())
      val tag = graft.operators.Dedup.ensureMinhashIndex(
        docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text",
        "planguard_" + sf(), spark)
      val out = graft.operators.Dedup.minhashIncrementalPersisted(
        docs.filter(col("doc_id") % 5 === 0), "doc_id", "text", tag,
        tau = 0.5)
      val exec = out.queryExecution.executedPlan
      // corpus rows must never cross a ShuffleExchange BEFORE meeting
      // the batch in a join: walking down from any Exchange, an index
      // scan reached without passing a join node means the corpus
      // itself re-partitioned (post-join exchanges — the candidate
      // distinct, the harness orderBy — carry batch-bound rows)
      def preJoinIndexScan(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p match {
          case f: FileSourceScanExec =>
            f.relation.location.rootPaths.exists(_.toString.contains("mh_idx_"))
          case _: org.apache.spark.sql.execution.joins.BaseJoinExec => false
          case other => other.children.exists(preJoinIndexScan)
        }
      val offending = exec.collect {
        case e: ShuffleExchangeExec if preJoinIndexScan(e.child) => e
      }
      assert(offending.isEmpty,
        s"corpus-side Exchange above a persisted index scan:\n$offending")
      // and the index is actually read bucketed (co-partitioned scan)
      val idxScans = exec.collectLeaves().collect {
        case f: FileSourceScanExec if f.relation.location.rootPaths
          .exists(_.toString.contains("mh_idx_")) => f
      }
      assert(idxScans.nonEmpty && idxScans.forall(_.bucketedScan),
        s"index scans must be bucketed: $idxScans")
      // and the index path returns EXACTLY the shuffle-side result
      val want = graft.operators.Dedup.minhashIncremental(
        docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", tau = 0.5)
        .collect().map(_.toSeq).toSeq
      assert(out.collect().map(_.toSeq).toSeq == want)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("r14: persisted EMBEDDING index joins with ZERO corpus-side " +
       "Exchange and is bit-equal to the recompute twin (judge r13 ask #1)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions._
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val e = graft.tables.Tables.embeddings(spark, sf())
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val batch = e.filter(col("vec_id") % 5 === 0)
        .select((col("vec_id") + 200000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.5d)).as("embedding"))
        .unionByName(e.filter(col("vec_id") % 7 === 0)
          .select((col("vec_id") + 300000L).as("vec_id"),
            reverse(col("embedding")).as("embedding")))
      val tag = graft.operators.Dedup.ensureEmbedIndex(e, "vec_id",
        "embedding", "planguard_emb_" + sf(), spark, bits = 16, tables = 8)
      val out = graft.operators.Dedup.embedIncrementalPersisted(
        batch, "vec_id", "embedding", tag, tau = 0.995)
      val exec = out.queryExecution.executedPlan
      def preJoinIndexScan(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p match {
          case f: FileSourceScanExec =>
            f.relation.location.rootPaths.exists(_.toString.contains("emb_idx_"))
          case _: org.apache.spark.sql.execution.joins.BaseJoinExec => false
          case other => other.children.exists(preJoinIndexScan)
        }
      val offending = exec.collect {
        case x: ShuffleExchangeExec if preJoinIndexScan(x.child) => x
      }
      assert(offending.isEmpty,
        s"corpus-side Exchange above a persisted embed-index scan:\n$offending")
      val idxScans = exec.collectLeaves().collect {
        case f: FileSourceScanExec if f.relation.location.rootPaths
          .exists(_.toString.contains("emb_idx_")) => f
      }
      assert(idxScans.nonEmpty && idxScans.forall(_.bucketedScan),
        s"embed index scans must be bucketed: $idxScans")
      // bit-equal to the shuffle-side recompute twin (same bits/tables)
      val want = graft.operators.Dedup.embedIncremental(
        batch, e, "vec_id", "embedding", tau = 0.995, bits = 16, tables = 8)
        .collect().map(_.toSeq).toSeq
      assert(out.collect().map(_.toSeq).toSeq == want)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("r14: ANN serving index — probed cells PARTITION-PRUNE the code " +
       "scan, vecs read bucketed, result equals the retraining path " +
       "(judge r13 ask #2)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions.col
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
    val e = graft.tables.Tables.embeddings(spark, sf())
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val tag = graft.operators.Similarity.ensureAnnIndex(
      e, "vec_id", "embedding", "planguard_ann_" + sf(), spark)
    val out = graft.operators.Similarity.annIvfPqPersisted(
      spark, tag, queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10)
    val exec = out.queryExecution.executedPlan
    val codeScans = exec.collectLeaves().collect {
      case f: FileSourceScanExec if f.relation.location.rootPaths
        .exists(_.toString.contains("ann_idx_")) &&
        f.relation.location.rootPaths.exists(_.toString.contains("_codes")) => f
    }
    assert(codeScans.nonEmpty, "no code-table scan found")
    assert(codeScans.forall(_.partitionFilters.nonEmpty),
      s"code scan carries no partition-pruning filter:\n$codeScans")
    // the pruning is REAL: fewer partition dirs selected than exist
    val selected = codeScans.map(_.selectedPartitions.partitionCount).sum
    val total = spark.table(
      spark.catalog.listTables().collect()
        .map(_.name).find(n => n.startsWith("ann_idx_") && n.endsWith("_codes")).get)
      .select("cell").distinct().count()
    assert(selected < total,
      s"probed-cell pruning selected $selected of $total partitions")
    val vecScans = exec.collectLeaves().collect {
      case f: FileSourceScanExec if f.relation.location.rootPaths
        .exists(_.toString.contains("_vecs")) => f
    }
    assert(vecScans.nonEmpty && vecScans.forall(_.bucketedScan),
      s"vecs scans must be bucketed: $vecScans")
    // the served result equals the per-invocation retraining path
    val want = graft.operators.Similarity.annIvfPq(
      e, "vec_id", "embedding", queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10)
      .collect().map(_.toSeq).toSeq
    assert(out.collect().map(_.toSeq).toSeq == want)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("r15: maintained ANN index — inserts encode with FROZEN codebooks " +
       "(codebook tables unchanged), query-by-vector serve finds inserted " +
       "rows and keeps partition pruning (judge r14 ask #2)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions.{col, transform, lit}
    import graft.operators.{Dedup, Similarity}
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val e = graft.tables.Tables.embeddings(spark, sf())
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val tag = "planguard_annm_" + sf()
      Similarity.writeAnnIndex(e, "vec_id", "embedding", tag)
      val (codesT, vecsT, coarseT, pqT) = Similarity.annIndexTables(tag)
      def snapshot(t: String) =
        spark.table(t).collect().map(_.toSeq).toSet
      val coarseBefore = snapshot(coarseT)
      val pqBefore = snapshot(pqT)
      // insert a scaled copy of vec 3 (cos 1 — same cell/codes by scale
      // invariance) under a fresh id
      val inserts = e.filter(col("vec_id") === 3L)
        .select(lit(700003L).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.25d)).as("embedding"))
      Similarity.appendAnnIndex(inserts, "vec_id", "embedding", tag)
      assert(snapshot(coarseT) == coarseBefore && snapshot(pqT) == pqBefore,
        "appendAnnIndex must not retrain the codebooks")
      // serve by RAW vector (out-of-corpus id): 0.8× vec 3's vector —
      // rank-1/2 neighbors must be {vec 3, the inserted 700003} (cos 1)
      val queries = e.filter(col("vec_id") === 3L)
        .select(lit(900100L).as("vec_id"),
          transform(col("embedding"), x => x * lit(0.8d)).as("embedding"))
      val out = Similarity.annIvfPqServe(queries, "vec_id", "embedding",
        tag, k = 2)
      val exec = out.queryExecution.executedPlan
      val codeScans = exec.collectLeaves().collect {
        case f: FileSourceScanExec if f.relation.location.rootPaths
          .exists(_.toString.contains("_codes")) => f
      }
      assert(codeScans.nonEmpty && codeScans.forall(_.partitionFilters.nonEmpty),
        s"serve's code scan lost partition pruning:\n$codeScans")
      val selected = codeScans.map(_.selectedPartitions.partitionCount).sum
      val total = spark.table(codesT).select("cell").distinct().count()
      assert(selected < total,
        s"probed-cell pruning selected $selected of $total partitions")
      // both are cos-1 neighbors; their fp rounding decides rank order,
      // so assert the SET (the oracle row pins full determinism)
      val got = out.select("neighbor_id").collect().map(_.getLong(0)).toSet
      assert(got == Set(3L, 700003L),
        s"serve must surface the corpus original AND the insert: $got")
      Seq(codesT, vecsT, coarseT, pqT)
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("r16: ANN index DELETE + COMPACT — removed vectors leave the " +
       "served answer, survivors stay, cell pruning survives both " +
       "rewrites, per-cell files collapse, codebooks untouched, crash " +
       "park self-heals (judge r15 asks #1/#3)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions.{col, transform, lit}
    import graft.operators.{Dedup, Similarity}
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val e = graft.tables.Tables.embeddings(spark, sf())
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val tag = "planguard_annr_" + sf()
      Similarity.writeAnnIndex(e, "vec_id", "embedding", tag)
      val (codesT, vecsT, coarseT, pqT) = Similarity.annIndexTables(tag)
      def snapshot(t: String) = spark.table(t).collect().map(_.toSeq).toSet
      val coarseBefore = snapshot(coarseT)
      val pqBefore = snapshot(pqT)
      def copyOf(src: Long, id: Long) = e.filter(col("vec_id") === src)
        .select(lit(id).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.25d)).as("embedding"))
      // two appends: per-cell file decay + one insert to delete, one to keep
      val ins1 = Similarity.appendAnnIndex(copyOf(3L, 700003L),
        "vec_id", "embedding", tag)
      val ins2 = Similarity.appendAnnIndex(copyOf(5L, 700005L),
        "vec_id", "embedding", tag)
      def serve(k: Int) = Similarity.annIvfPqServe(
        e.filter(col("vec_id") === 3L).select(lit(900100L).as("vec_id"),
          transform(col("embedding"), x => x * lit(0.8d)).as("embedding")),
        "vec_id", "embedding", tag, k = k)
      def neighbors(k: Int) =
        serve(k).select("neighbor_id").collect().map(_.getLong(0)).toSet
      assert(neighbors(2) == Set(3L, 700003L))
      // COMPACT first (the delete below is itself a full rewrite, so it
      // would mask the append-driven file decay): total data files
      // collapse, serve results bit-equal, pruning intact
      def dataFiles(t: String): Int = {
        val loc = spark.sql(s"DESCRIBE EXTENDED $t")
          .filter(col("col_name") === "Location").head().getString(1)
        def walk(f: java.io.File): Int =
          if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).map(walk).sum
          else if (f.getName.endsWith(".parquet")) 1 else 0
        walk(new java.io.File(new java.net.URI(loc)))
      }
      val preCompactServe = serve(2).collect().map(_.toSeq).toSeq
      val filesBefore = dataFiles(codesT) + dataFiles(vecsT)
      Similarity.compactAnnIndex(spark, tag)
      val filesAfter = dataFiles(codesT) + dataFiles(vecsT)
      assert(filesAfter < filesBefore,
        s"compaction did not shrink files: $filesBefore -> $filesAfter")
      val postCompactServe = serve(2)
      assert(postCompactServe.collect().map(_.toSeq).toSeq == preCompactServe,
        "compaction changed served results")
      val compactScans = postCompactServe.queryExecution.executedPlan
        .collectLeaves().collect {
          case f: FileSourceScanExec if f.relation.location.rootPaths
            .exists(_.toString.contains("_codes")) => f
        }
      assert(compactScans.nonEmpty && compactScans.forall(_.partitionFilters.nonEmpty),
        "compaction lost the code scan's partition pruning")
      // DELETE the first insert (AS-INDEXED rows = the append snapshot)
      assert(Similarity.removeFromAnnIndex(ins1, "vec_id", "embedding", tag) == 1L)
      val out = serve(1)
      val exec = out.queryExecution.executedPlan
      val codeScans = exec.collectLeaves().collect {
        case f: FileSourceScanExec if f.relation.location.rootPaths
          .exists(_.toString.contains("_codes")) => f
      }
      assert(codeScans.nonEmpty && codeScans.forall(_.partitionFilters.nonEmpty),
        s"delete rewrite lost the code scan's partition pruning:\n$codeScans")
      val selected = codeScans.map(_.selectedPartitions.partitionCount).sum
      val total = spark.table(codesT).select("cell").distinct().count()
      assert(selected < total,
        s"probed-cell pruning selected $selected of $total partitions")
      assert(out.select("neighbor_id").collect().map(_.getLong(0)).toSet
        == Set(3L), "removed insert still served (or survivor lost)")
      // codebooks byte-identical across the delete rewrite
      assert(snapshot(coarseT) == coarseBefore && snapshot(pqT) == pqBefore,
        "removeFromAnnIndex must not touch the codebooks")
      // subtractive fingerprint: corpus ∪ surviving insert verifies
      val fp = graft.operators.IndexStore.corpusFingerprint(e.unionByName(ins2),
        "vec_id", "embedding")
      assert(Seq(codesT, vecsT, coarseT, pqT).forall(t =>
        graft.operators.IndexStore.tableFingerprint(spark, t).contains(fp)),
        "fingerprint did not subtract to corpus ∪ survivors")
      val wantServe = serve(2).collect().map(_.toSeq).toSeq
      // crash park self-heal on the PARTITIONED table: park codes under
      // _o (the state after swapRewriteTable's first rename), then let
      // the next maintenance entry recover it
      spark.sql(s"ALTER TABLE $codesT RENAME TO ${codesT}_o")
      Similarity.compactAnnIndex(spark, tag)
      assert(!spark.catalog.tableExists(codesT + "_o"))
      assert(serve(2).collect().map(_.toSeq).toSeq == wantServe,
        "partitioned crash recovery changed served results")
      Seq(codesT, vecsT, coarseT, pqT)
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }
}
