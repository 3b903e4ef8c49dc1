package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession graft builds for its own mains and specs, so what
  * gets profiled, audited and verified is what gets benched. */
object GraftSession {
  /** Cores to run on: `SPARK_GRAFT_CPUS`, else every available processor. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** A `local[cpus]` session pinned to UTC (epoch micros of the events
    * timestamps depend on it), UI off, one shuffle partition per core.
    * `warehouse` relocates `saveAsTable` output (the specs give each run
    * its own). */
  def local(cpus: Int = defaultCpus, warehouse: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the default 100-entry generated-class cache thrashes when the
      // suite's codegen units cycle through it once per interleaved bench
      // pass, re-paying Janino compilation (~0.1-0.2 s/query/pass); size
      // it to hold the whole suite so repeats measure execution
      .config("spark.sql.codegen.cache.maxEntries", "10000")
    warehouse.foreach(b.config("spark.sql.warehouse.dir", _))
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
