package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The ONE lifecycle of graft's persisted indexes (MinHash bands, SRP
  * embedding signatures, IVF-PQ serving codes). A family contributes an
  * [[IndexStore.IndexLayout]] — its tables, their physical layouts, its
  * row-id column and its compaction transform — plus its codec code
  * (encode, probe, serve), which stays with the family. Everything a
  * write path must get right exactly once lives here:
  *  - naming: `<prefix><md5(tag)><suffix>` per table; a rewrite stages
  *    into `<table>_c` and parks the original under `<table>_o`; the
  *    primary (first) table names the `<primary>_lease` file and the
  *    `<primary>_commits` maintained-stream guard;
  *  - the corpus fingerprint table property and its additive
  *    (append) / subtractive (remove) merge;
  *  - geometry properties, recorded on the primary and read ONCE per
  *    open as a map;
  *  - the single-writer lease, the crash-safe swap-and-rewrite and its
  *    recovery, and the layout-preserving (bucketed / partitioned)
  *    rewrite;
  *  - the maintained micro-batch: lease → recover → commits probe →
  *    purge uncommitted residue → family step → commit row.
  * Every maintenance entry goes through [[open]], so the lease covers
  * every read that decides a write, recovery included. */
private[graft] object IndexStore {

  private[graft] val FingerprintProp = "graft.corpus.fingerprint"
  // geometry shared by every family: the write-time cap and the physical
  // bucket count, so append/compact/read paths can never disagree with
  // the stored layout
  private[graft] val MaxBucketProp = "graft.index.maxBucket"
  private[graft] val BucketsProp = "graft.index.buckets"

  /** Physical layout of one index table — what every rewrite preserves. */
  sealed trait TableLayout
  /** bucketBy/sortBy on `cols`, bucket count from [[BucketsProp]]. */
  final case class Bucketed(cols: String*) extends TableLayout
  /** partitionBy(`column`): serving prunes on it. */
  final case class Partitioned(column: String) extends TableLayout
  /** A bounded single-file table (trained codebooks, drift baseline):
    * written once, never rewritten. */
  case object Single extends TableLayout

  /** One family's persisted index.
    * @param prefix     table-name prefix
    * @param tables     (suffix, layout) per table; the FIRST is the
    *                   primary — it carries the geometry and names the
    *                   lease and the commits table
    * @param idCol      row-id column of every rewritable table
    * @param rowsTable  suffix of the table holding one row per indexed
    *                   item (a removal is validated against it)
    * @param sideTables suffixes dropped with the index but outside its
    *                   fingerprint
    * @param compaction per-suffix transform a compaction re-applies
    *                   (the write-time cap); identity when absent */
  final case class IndexLayout(prefix: String,
                               tables: Seq[(String, TableLayout)],
                               idCol: String, rowsTable: String,
                               sideTables: Seq[String] = Nil,
                               compaction: Map[String, (Index, DataFrame) => DataFrame] = Map.empty) {
    def name(tag: String, suffix: String): String = prefix + tagStem(tag) + suffix
    def names(tag: String): Seq[String] = tables.map(t => name(tag, t._1))
  }

  /** An index handle: table names plus the primary's recorded
    * properties, read once on first use. `what` names the entry point
    * in every error. */
  final class Index private[IndexStore] (val spark: SparkSession,
                                         val layout: IndexLayout,
                                         val tag: String, what: String) {
    val tables: Seq[String] = layout.names(tag)
    def primary: String = tables.head
    def table(suffix: String): String = layout.name(tag, suffix)
    private lazy val props = tableProps(spark, primary)

    /** A required int geometry property: an index that records none
      * fails with the entry point's name (caller-supplied geometry that
      * disagrees with the stored layout silently collapses recall). */
    def int(key: String): Int = props.get(key).map(_.toInt).getOrElse(
      throw new IllegalArgumentException(
        s"$what: index table '$primary' records no '$key'"))

    /** Write `df` as table `suffix` in its layout: overwrite or append;
      * `spread` repartitions on the layout keys first, so each bucket /
      * partition lands as ~1 file per write. */
    def write(suffix: String, df: DataFrame, buckets: Int = 0,
              append: Boolean = false, spread: Boolean = true): Unit =
      writeTable(df, table(suffix), layout.tables.find(_._1 == suffix).get._2,
        buckets, append, spread)

    private[IndexStore] def rewritable: Seq[(String, String, TableLayout)] =
      layout.tables.zip(tables).collect {
        case ((s, l), t) if l != Single => (s, t, l)
      }
  }

  /** Collision-resistant table-name stem for `tag`: hex md5 (a 32-bit
    * hashCode would let two tags silently share an index). */
  private[graft] def tagStem(tag: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(tag.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Read-only handle for a serving path: no lease, no recovery. */
  def read(spark: SparkSession, layout: IndexLayout, tag: String,
           what: String): Index = new Index(spark, layout, tag, what)

  /** Open an index for maintenance: take the tag's lease, recover a
    * half-finished swap, check every table exists, then run `body`
    * under the lease. */
  def open[T](spark: SparkSession, layout: IndexLayout, tag: String,
              what: String)(body: Index => T): T = {
    val ix = new Index(spark, layout, tag, what)
    withMaintenanceLease(spark, ix.primary, what) {
      ix.rewritable.foreach(r => recoverSwappedTable(spark, r._2))
      require(ix.tables.forall(spark.catalog.tableExists),
        s"$what: no index for tag '$tag' — write it first")
      body(ix)
    }
  }

  /** Start a fresh write: drop the index's tables, side tables and
    * commits table (a fresh index invalidates any maintained-stream
    * history). Returns the handle the family writes through. */
  def replace(spark: SparkSession, layout: IndexLayout, tag: String): Index = {
    drop(spark, layout, tag)
    new Index(spark, layout, tag, "write")
  }

  /** Drop every table of the index, including a previous JVM's orphaned
    * managed directories. */
  def drop(spark: SparkSession, layout: IndexLayout, tag: String): Unit = {
    val names = layout.names(tag)
    (names ++ layout.sideTables.map(layout.name(tag, _)) :+
      commitsTableName(names.head)).foreach(dropStaleTable(spark, _))
  }

  /** Finish a write: the corpus fingerprint on every table, the geometry
    * on the primary — one ALTER per table. */
  def seal(ix: Index, fp: String, geometry: (String, Any)*): Unit =
    ix.tables.foreach { t =>
      setProps(ix.spark, t, (FingerprintProp -> fp) +:
        (if (t == ix.primary) geometry.map(g => g._1 -> g._2.toString) else Nil))
    }

  /** Build the index only when `tag` has no CURRENT tables: missing, or
    * (with `verifyFingerprint`) a recorded fingerprint that differs from
    * `corpusFp` — a corpus changed under a surviving tag rebuilds instead
    * of serving stale signatures. `corpusFp` is by-name: never evaluated
    * when verification is off. Returns the tag. */
  def ensure(spark: SparkSession, layout: IndexLayout, tag: String,
             verifyFingerprint: Boolean, corpusFp: => String)(write: => Unit): String = {
    val names = layout.names(tag)
    val missing = !names.forall(spark.catalog.tableExists)
    val stale = !missing && verifyFingerprint && {
      val fp = corpusFp
      !names.forall(t => tableFingerprint(spark, t).contains(fp))
    }
    if (missing || stale) write
    tag
  }

  /** Append admitted rows: SNAPSHOT first (an `admitted` plan usually
    * derives from a dedup that reads the very tables being appended —
    * without it the second table's write re-resolves against the
    * first), let the family encode and write the snapshot, then merge
    * its fingerprint additively. Returns the snapshot. */
  def append(ix: Index, admitted: DataFrame, idCol: String,
             payloadCol: String)(writeRows: DataFrame => Unit): DataFrame = {
    val snap = ensureFrozen(admitted)
    writeRows(snap)
    mergeFingerprint(ix, corpusFingerprint(snap, idCol, payloadCol))
    snap
  }

  /** Takedown delete: an anti-join rewrite of every rewritable table
    * (physical removal — a tombstone would tax every serve and leave
    * content-derived rows on disk). `removed` must carry the rows AS
    * INDEXED — validated, because the fingerprint subtracts the whole
    * removal set. Drops the commits table (its fingerprints are stale).
    * Returns the number of items purged. */
  def remove(ix: Index, removed: DataFrame, idCol: String,
             payloadCol: String): Long = {
    val id = ix.layout.idCol
    val snap = removed.localCheckpoint()
    val ids = snap.select(col(idCol).cast("long").as(id))
    val purged = ix.spark.table(ix.table(ix.layout.rowsTable))
      .join(ids, Seq(id), "left_semi").count()
    val removedCount = snap.count()
    require(purged == removedCount,
      s"$removedCount removal rows but $purged matched indexed rows in " +
      s"'${ix.tag}' — `removed` must carry exactly the indexed " +
      s"($idCol, $payloadCol) rows, no extras and no duplicates")
    rewrite(ix)(_ => _.join(ids, Seq(id), "left_anti"))
    mergeFingerprint(ix, corpusFingerprint(snap, idCol, payloadCol), sign = -1)
    dropStaleTable(ix.spark, commitsTableName(ix.primary))
    purged
  }

  /** Compaction: rewrite every rewritable table once (collapsing append
    * file decay to one write's worth), re-applying the layout's
    * compaction transform; properties carry verbatim. */
  def compact(ix: Index): Unit =
    rewrite(ix)(s => df => ix.layout.compaction.get(s).fold(df)(_(ix, df)))

  /** Crash-recovery purge for a maintained batch: if an uncommitted
    * append left any of `ids` (one column, the layout's id) in the
    * index, rewrite them out and reset every fingerprint to `fp`, the
    * last committed state. One probe job; `ids` is frozen only when a
    * purge runs. Returns true when it did. */
  private[graft] def purgeUncommitted(ix: Index, ids: DataFrame,
                                      fp: String): Boolean = {
    val id = ix.layout.idCol
    val hit = !ix.rewritable.map(r => ix.spark.table(r._2).select(id))
      .reduce(_ unionByName _).join(ids, Seq(id), "left_semi").isEmpty
    if (hit) {
      val frozen = ids.localCheckpoint()
      rewrite(ix)(_ => _.join(frozen, Seq(id), "left_anti"))
      ix.tables.foreach(setTableFingerprint(ix.spark, _, fp))
    }
    hit
  }

  /** One maintained micro-batch: take the lease (BEFORE the commits
    * probe, so a commit cannot land between the probe and the purge),
    * recover, probe the commits table; an uncommitted batch is frozen,
    * purged of a crashed attempt's residue, handed to `step` (probe or
    * serve, hand out, append), and recorded with the post-batch
    * fingerprint. State lives entirely in tables, so a direct call
    * equals a fresh JVM's replay. */
  private[graft] def maintainedBatch(df: DataFrame, id: Long, idCol: String,
      layout: IndexLayout, tag: String, what: String,
      crashBeforeCommit: () => Unit)(step: (Index, DataFrame) => Unit): Unit =
    open(df.sparkSession, layout, tag, what) { ix =>
      val spark = ix.spark
      val ct = ensureCommitsTable(spark, ix.primary)
      val (done, lastFp) = commitsProbe(spark, ct, id)
      if (!done) {
        val snap = df.localCheckpoint()
        purgeUncommitted(ix, snap.select(col(idCol).cast("long").as(layout.idCol)),
          lastFp)
        step(ix, snap)
        crashBeforeCommit()
        recordCommit(spark, ct, id,
          tableFingerprint(spark, ix.primary).getOrElse("0:0"))
      }
    }

  // ------------------------------------------------------- fingerprint

  /** Corpus fingerprint: row count + the order-independent sum of per-row
    * xxhash64(id, payload) — one column-pruned scan. The decimal(38,0)
    * sum never overflows and stays EXACT, so merges are purely additive
    * (and subtractive). */
  private[graft] def corpusFingerprint(corpus: DataFrame, idCol: String,
                                       payloadCol: String): String = {
    val r = corpus.agg(count(lit(1)).as("n"),
      sum(xxhash64(col(idCol), col(payloadCol)).cast("decimal(38,0)")).as("h"))
      .head()
    val h = if (r.isNullAt(1)) BigInt(0)
            else BigInt(r.getDecimal(1).toBigInteger)
    s"${r.getLong(0)}:$h"
  }

  /** The fingerprint stored on `table`, or None when absent. */
  private[graft] def tableFingerprint(spark: SparkSession,
                                      table: String): Option[String] =
    tableProps(spark, table).get(FingerprintProp)

  private[graft] def setTableFingerprint(spark: SparkSession, table: String,
                                         fp: String): Unit =
    setProps(spark, table, Seq(FingerprintProp -> fp))

  /** Merge a fingerprint delta (`sign` -1 subtracts) into every table;
    * the previous value is the primary's (all tables carry the same one
    * by construction). */
  private[graft] def mergeFingerprint(ix: Index, delta: String,
                                      sign: Int = 1): Unit = {
    val Array(dn, dh) = delta.split(":")
    val (pn, ph) = tableFingerprint(ix.spark, ix.primary) match {
      case Some(p) => val Array(n, h) = p.split(":"); (n.toLong, BigInt(h))
      case None => (0L, BigInt(0))
    }
    val merged = s"${pn + sign * dn.toLong}:${ph + sign * BigInt(dh)}"
    ix.tables.foreach(setTableFingerprint(ix.spark, _, merged))
  }

  private def tableProps(spark: SparkSession, table: String): Map[String, String] =
    spark.sql(s"SHOW TBLPROPERTIES $table").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  private def setProps(spark: SparkSession, table: String,
                       props: Seq[(String, String)]): Unit =
    if (props.nonEmpty) {
      spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES (" +
        props.map { case (k, v) => s"'$k' = '$v'" }.mkString(", ") + ")")
      ()
    }

  // ----------------------------------- streaming commit guard (durable)

  /** The durable committed-batch table next to a maintained index: one
    * (batch_id, fingerprint AFTER that batch) row per fully-applied
    * micro-batch, seeded with (-1, fingerprint at creation). Purging an
    * uncommitted batch's residue and resetting to the last committed
    * fingerprint is then exact.
    *
    * Coherence: valid while the maintained stream is the tag's ONLY
    * writer; removals drop this table themselves so it reseeds.
    * Id-uniqueness: the purge treats any probed id already in the index
    * as residue of an uncommitted replay, so maintained streams must
    * feed GLOBALLY UNIQUE ids — disjoint from the indexed corpus and
    * never reused across batches. */
  private[graft] def commitsTableName(indexTable: String): String =
    indexTable + "_commits"

  /** Create-if-absent the commits table for `indexTable`, seeded with the
    * sentinel (-1, current index fingerprint). Returns its name. */
  private[graft] def ensureCommitsTable(spark: SparkSession,
                                        indexTable: String): String = {
    val ct = commitsTableName(indexTable)
    if (!spark.catalog.tableExists(ct)) {
      import spark.implicits._
      val fp = tableFingerprint(spark, indexTable).getOrElse("0:0")
      Seq((-1L, fp)).toDF("batch_id", "fp")
        .write.format("parquet").saveAsTable(ct)
    }
    ct
  }

  /** Whether `id` is recorded as fully applied. */
  private[graft] def committedBatch(spark: SparkSession, ct: String,
                                    id: Long): Boolean =
    !spark.table(ct).filter(col("batch_id") === id).isEmpty

  /** The fingerprint of the last fully-applied state. */
  private[graft] def lastCommittedFp(spark: SparkSession, ct: String): String =
    spark.table(ct).orderBy(col("batch_id").desc).head().getString(1)

  /** [[committedBatch]] AND [[lastCommittedFp]] from ONE commits-table
    * read: (already committed?, last committed fingerprint). batch_id is
    * unique, so max_by is deterministic. */
  private[graft] def commitsProbe(spark: SparkSession, ct: String,
                                  id: Long): (Boolean, String) = {
    val row = spark.table(ct)
      .agg(max(when(col("batch_id") === id, lit(1))).as("hit"),
        max_by(col("fp"), col("batch_id")).as("fp")).head()
    (!row.isNullAt(0), row.getString(1))
  }

  /** Record `id` as fully applied at fingerprint `fp`. */
  private[graft] def recordCommit(spark: SparkSession, ct: String, id: Long,
                                  fp: String): Unit = {
    import spark.implicits._
    Seq((id, fp)).toDF("batch_id", "fp")
      .write.format("parquet").mode("append").saveAsTable(ct)
  }

  /** localCheckpoint unless `df` is already checkpointed / RDD-rooted (a
    * maintained batch freezes its snapshot before the append — freezing
    * it again is one wasted job per micro-batch). */
  private[graft] def ensureFrozen(df: DataFrame): DataFrame =
    df.queryExecution.analyzed match {
      case _: org.apache.spark.sql.execution.LogicalRDD => df
      case _ => df.localCheckpoint()
    }

  // --------------------------------- single-writer maintenance lease

  /** Per-thread set of lease keys held, making the lease REENTRANT: a
    * maintained batch holds it across guard→purge→append→commit and the
    * inner entry points re-enter instead of deadlocking. */
  private val heldLeases = new ThreadLocal[Set[String]] {
    override def initialValue(): Set[String] = Set.empty
  }

  /** SINGLE-WRITER protection: `body` runs under a `<key>_lease` file in
    * the warehouse, created with overwrite = false (atomic on HDFS,
    * best-effort-exclusive on local/object stores) and holding the
    * owner's epoch-millis stamp. A concurrent caller FAILS FAST with
    * IllegalStateException instead of interleaving renames; a lease
    * older than `ttlMs` (default 30 min, far beyond any rewrite) is a
    * crashed holder's residue and is broken once. Released in a
    * finally, so an aborted call never wedges the tag. */
  private[graft] def withMaintenanceLease[T](spark: SparkSession, key: String,
      what: String, ttlMs: Long = 30L * 60 * 1000)(body: => T): T = {
    if (heldLeases.get.contains(key)) body
    else {
      val path = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), key + "_lease")
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def tryAcquire(): Boolean =
        try {
          val out = fs.create(path, false)
          try out.writeLong(System.currentTimeMillis())
          finally out.close()
          true
        } catch { case _: java.io.IOException => false }
      if (!tryAcquire()) {
        val stamp = try {
          val in = fs.open(path)
          try in.readLong() finally in.close()
        } catch { case _: java.io.IOException => Long.MaxValue }
        val stale = stamp != Long.MaxValue &&
          System.currentTimeMillis() - stamp > ttlMs
        if (stale) { fs.delete(path, false); () }
        if (!stale || !tryAcquire())
          throw new IllegalStateException(
            s"$what: maintenance lease on '$key' is held by another " +
            s"writer (since epoch-ms $stamp) — concurrent maintenance " +
            "on one tag is not allowed; retry after it finishes, or " +
            s"delete $path if the holder is known dead")
      }
      heldLeases.set(heldLeases.get + key)
      try body
      finally {
        heldLeases.set(heldLeases.get - key)
        fs.delete(path, false)
        ()
      }
    }
  }

  // ------------------------------------------- swap-and-rewrite

  /** Write `df` as `table` in `layout` (see [[Index.write]]). */
  private[graft] def writeTable(df: DataFrame, table: String, layout: TableLayout,
                                buckets: Int = 0, append: Boolean = false,
                                spread: Boolean = true): Unit = {
    val w = layout match {
      case Bucketed(cols @ _*) =>
        (if (spread) df.repartition(buckets, cols.map(col): _*) else df).write
          .bucketBy(buckets, cols.head, cols.tail: _*).sortBy(cols.head, cols.tail: _*)
      case Partitioned(c) =>
        (if (spread) df.repartition(col(c)) else df).write.partitionBy(c)
      case Single => df.coalesce(1).write
    }
    w.format("parquet").mode(if (append) "append" else "overwrite").saveAsTable(table)
  }

  /** Rewrite every rewritable table through `xform(suffix)` with its
    * layout preserved, each via [[swapRewriteTable]]. The rewrite
    * repartitions on the layout keys, so each bucket / partition
    * collapses to one file, and forces the bucketed scan for its read
    * (the auto-bucketed-scan rule otherwise un-buckets it once the
    * repartition is eliminated against the scan's hash partitioning —
    * each bucket's rows then scatter across tasks and the write fans
    * back out: 852 files survived a 32-bucket rewrite without this). */
  private def rewrite(ix: Index)(xform: String => DataFrame => DataFrame): Unit = {
    val spark = ix.spark
    lazy val buckets = ix.int(BucketsProp)
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try ix.rewritable.foreach { case (suffix, table, layout) =>
      val b = layout match { case _: Bucketed => buckets; case _ => 0 }
      swapRewriteTable(spark, table,
        tmp => writeTable(xform(suffix)(spark.table(table)), tmp, layout, b))
    } finally spark.conf.set(key, prev)
  }

  /** One-table rewrite-and-swap: write into `<table>_c`, set the carried
    * `graft.*` properties on it, then RENAME the original to `_o`, the
    * temp to `table`, repair the live table's partitions and only then
    * drop `_o`. Every crash point is recoverable: before the first
    * rename the original is untouched (stale `_c`/`_o` dropped on
    * retry); between the renames [[recoverSwappedTable]] renames `_o`
    * back and the rewrite is retried; after the second rename the live
    * table is complete (properties travel with a rename, and the
    * partition repair precedes the park's drop), so recovery just drops
    * `_o`. */
  private def swapRewriteTable(spark: SparkSession, table: String,
                               write: String => Unit): Unit = {
    val carried = tableProps(spark, table).filter(_._1.startsWith("graft.")).toSeq
    val tmp = table + "_c"
    val old = table + "_o"
    dropStaleTable(spark, tmp)
    dropParkedTable(spark, old)
    write(tmp)
    setProps(spark, tmp, carried)
    spark.sql(s"ALTER TABLE $table RENAME TO $old")
    spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    // a renamed partitioned table's specs still point at the vanished
    // `_c` paths — repair before anything else, or a crash here serves
    // empty scans that a later rewrite would persist as data loss
    repairPartitionsIfPartitioned(spark, table)
    dropParkedTable(spark, old)
    // the renames moved directories under any cached file listing
    spark.catalog.refreshTable(table)
  }

  /** Self-heal for a crash inside [[swapRewriteTable]]:
    *  - `table` absent, `<table>_o` present (between the renames): rename
    *    the park back — the pre-rewrite index, intact; the rewrite is
    *    simply retried;
    *  - both present (after the second rename): the live table is the
    *    complete rewrite — repair its partitions and drop the park.
    * A no-op in every other state. */
  private[graft] def recoverSwappedTable(spark: SparkSession, table: String): Unit = {
    val live = spark.catalog.tableExists(table)
    val parked = spark.catalog.tableExists(table + "_o")
    if (!live && parked) {
      spark.sql(s"ALTER TABLE ${table}_o RENAME TO $table")
      repairPartitionsIfPartitioned(spark, table)
      spark.catalog.refreshTable(table)
    } else if (live && parked) {
      repairPartitionsIfPartitioned(spark, table)
      dropParkedTable(spark, table + "_o")
      spark.catalog.refreshTable(table)
    }
  }

  /** A partitioned managed table's partition locations go stale across
    * RENAME; re-derive them from the moved directory. */
  private def repairPartitionsIfPartitioned(spark: SparkSession, table: String): Unit =
    if (spark.catalog.listColumns(table).collect().exists(_.isPartition)) {
      spark.sql(s"MSCK REPAIR TABLE $table")
      ()
    }

  /** Drop a `_o` park. A PARTITIONED park's specs still point at the
    * ORIGINAL path — which the swap just repopulated — so repair first,
    * or the DROP deletes the live table's partition directories. */
  private def dropParkedTable(spark: SparkSession, table: String): Unit = {
    if (spark.catalog.tableExists(table))
      repairPartitionsIfPartitioned(spark, table)
    dropStaleTable(spark, table)
  }

  /** DROP a table and any managed directory a previous JVM left behind
    * (saveAsTable otherwise fails with LOCATION_ALREADY_EXISTS). */
  private[graft] def dropStaleTable(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val path = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) { fs.delete(path, true); () }
  }
}
