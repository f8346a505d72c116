package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession setup the mains and the test session share:
  * `local[cpus]` with `cpus` shuffle partitions, UTC, no UI, the
  * governance extension, cost-based planning and a warehouse under
  * target/. Callers add only what differs (a listener, a warehouse dir,
  * extra confs) and call `getOrCreate`.
  */
object GraftSession {

  /** Task threads (and shuffle partitions) for the mains:
    * SPARK_GRAFT_CPUS, default 4.
    */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.ts is TIMESTAMP(NANOS) parquet — read as long, converted in
      // graft.sources.Tables; keep naive timestamps naive on read so
      // outputs compare cleanly against the DuckDB oracle.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
      // cost-based planning posture: stats recorded by ANALYZE feed
      // Catalyst (join reorder needs row counts on every side)
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.planStats.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      .config("spark.sql.extensions", "graft.governance.GraftExtensions")
      .config("spark.sql.warehouse.dir",
        new java.io.File("target/spark-warehouse").getAbsolutePath)
}
