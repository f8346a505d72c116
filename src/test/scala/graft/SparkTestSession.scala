package graft

import org.apache.spark.sql.SparkSession

/** One shared SparkSession for the whole test JVM (suites run
  * sequentially), built like the Verify/Bench sessions
  * ([[GraftSession]]) at 4 cores, with its own warehouse and the audit
  * listener registered.
  */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4)
      // per-JVM warehouse: test suites run in several concurrently
      // forked JVMs (build.sbt testGrouping); a shared warehouse would
      // let one JVM's catalog DDL delete files another JVM reads
      .config("spark.sql.warehouse.dir",
        new java.io.File("target/spark-warehouse-test-" +
          ProcessHandle.current().pid()).getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.listenerManager.register(new graft.governance.AuditListener)
    s
  }

  /** sf0.001 testdata — smallest scale, enough for behavioral asserts. */
  val sfDir = "/root/testdata/sf0.001"
}

trait SparkTestBase {
  lazy val spark: SparkSession = SparkTestSession.spark
  def sfDir: String = SparkTestSession.sfDir

  /** Runs `body` with `dir` as the context checkpoint dir, so every
    * [[Cut]] inside it is reliable; unsets the dir afterwards, so later
    * suites in the same JVM cut locally again.
    */
  def withCheckpointDir[T](dir: String)(body: => T): T = {
    spark.sparkContext.setCheckpointDir(dir)
    try body finally spark.sparkContext.setCheckpointDir(null)
  }

  /** True when a reliable checkpoint (an `rdd-<id>` dir) landed under `dir`. */
  def wroteCheckpoints(dir: String): Boolean = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try walk.anyMatch(_.getFileName.toString.startsWith("rdd-"))
    finally walk.close()
  }
}
