package graft.sales

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** The reference's single table: `sales_db.sales`, 20 rows.
  *
  * Schema declared at reference `main.tf:330-371`; data hardcoded at
  * reference `scripts/generate_sample_data.py:21-62` (snappy parquet at
  * `:78`). Rebuilt here as an explicit `StructType` + literal rows so Tier A
  * expected outputs are exact. PII columns carry `pii=sensitive` metadata,
  * mirroring the LF-Tag assignments (`main.tf:393-429`).
  */
object SalesFixture {

  val dbName = "sales_db"     // reference locals.tf:7
  val tableName = "sales"     // reference locals.tf:8
  val viewName = "sales_masked" // reference locals.tf:9

  /** `pii=sensitive` is the LF-Tag analog (WHAT is sensitive,
    * reference `main.tf:393-429`); `mask` names the registered mask kind
    * (HOW it is masked — [[graft.governance.Governance.maskKinds]]), so
    * masked views derive mechanically from the schema.
    */
  private def piiMeta(maskKind: String) =
    new MetadataBuilder().putString("pii", "sensitive")
      .putString("mask", maskKind).build()

  val schema: StructType = StructType(Seq(
    StructField("customer_id", StringType, nullable = false),
    StructField("customer_name", StringType, nullable = false),
    StructField("customer_email", StringType, nullable = false,
      piiMeta("email")),
    StructField("ssn", StringType, nullable = false, piiMeta("digits")),
    StructField("sales_region", StringType, nullable = false),
    StructField("sales_amount", DoubleType, nullable = false),
    StructField("sale_date", StringType, nullable = false)
  ))

  private val names = Seq(
    "Alice Johnson", "Bob Smith", "Charlie Brown", "Diana Prince", "Eve Wilson",
    "Frank Miller", "Grace Lee", "Henry Davis", "Ivy Chen", "Jack Taylor",
    "Karen White", "Liam O'Brien", "Mia Garcia", "Noah Martinez", "Olivia Anderson",
    "Paul Thompson", "Quinn Jackson", "Rachel Green", "Sam Wilson", "Tina Brown")

  private val emails = Seq(
    "alice.j@example.com", "bob.smith@example.com", "charlie.b@example.com",
    "diana.p@example.com", "eve.w@example.com", "frank.m@example.com",
    "grace.lee@example.com", "henry.d@example.com", "ivy.chen@example.com",
    "jack.t@example.com", "karen.w@example.com", "liam.ob@example.com",
    "mia.g@example.com", "noah.m@example.com", "olivia.a@example.com",
    "paul.t@example.com", "quinn.j@example.com", "rachel.g@example.com",
    "sam.w@example.com", "tina.b@example.com")

  private val ssns = Seq(
    "123-45-6789", "234-56-7890", "345-67-8901", "456-78-9012", "567-89-0123",
    "678-90-1234", "789-01-2345", "890-12-3456", "901-23-4567", "012-34-5678",
    "111-22-3333", "222-33-4444", "333-44-5555", "444-55-6666", "555-66-7777",
    "666-77-8888", "777-88-9999", "888-99-0000", "999-00-1111", "000-11-2222")

  private val regions = Seq(
    "APAC", "APAC", "APAC", "APAC", "APAC",
    "EMEA", "EMEA", "EMEA", "EMEA", "EMEA",
    "AMER", "AMER", "AMER", "AMER", "AMER",
    "APAC", "APAC", "EMEA", "AMER", "APAC")

  private val amounts = Seq(
    1250.50, 2300.75, 1890.25, 3200.00, 1450.30,
    2100.00, 1750.50, 2900.25, 1650.75, 2400.00,
    1950.50, 2800.25, 1550.75, 3100.00, 2200.50,
    1850.25, 2600.75, 1400.00, 2700.50, 1900.25)

  private val dates = Seq(
    "2024-01-15", "2024-01-16", "2024-01-17", "2024-01-18", "2024-01-19",
    "2024-02-10", "2024-02-11", "2024-02-12", "2024-02-13", "2024-02-14",
    "2024-03-05", "2024-03-06", "2024-03-07", "2024-03-08", "2024-03-09",
    "2024-04-20", "2024-04-21", "2024-04-22", "2024-04-23", "2024-04-24")

  /** The 20 literal rows, in file order. */
  val rows: Seq[Row] = (0 until 20).map { i =>
    Row(f"CUST${i + 1}%04d", names(i), emails(i), ssns(i), regions(i),
      amounts(i), dates(i))
  }

  /** Build the sales DataFrame in-memory (local-relation scan; the table is
    * tiny by construction — 20 rows — so no file round-trip is needed).
    */
  def df(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      schema)

  /** Write + register as an external-style parquet table, mirroring the
    * Glue external table over an S3 prefix (reference `main.tf:303-372`),
    * plus the `sales_masked` view DDL (reference `outputs.tf:41-55`).
    * DDL runs as DataAdmin: the admin owns the catalog objects; governance
    * applies when other principals query them.
    */
  def registerTables(spark: SparkSession, location: String): Unit =
    graft.governance.Governance.withPrincipal(
        spark, graft.governance.DataAdmin) {
      // the storage path itself is governed: a direct
      // spark.read.parquet(location) goes through the same plan rewrite
      // as the catalog table (reference S3 block, main.tf:32-49)
      graft.governance.GovernanceCatalog.registerLocation(
        location, dbName, tableName)
      // the fixture data is deterministic: only write when absent, so
      // a second JVM registering the same location (a test suite and a
      // Verify run side by side) never deletes part files a cached
      // relation in the other JVM still references
      if (!new java.io.File(location, "_SUCCESS").exists)
        df(spark).write.mode("overwrite").parquet(location)
      spark.sql(s"CREATE DATABASE IF NOT EXISTS $dbName")
      spark.sql(s"DROP TABLE IF EXISTS $dbName.$tableName")
      spark.sql(
        s"CREATE TABLE $dbName.$tableName USING parquet LOCATION '$location'")
      // Spark SQL string literals are backslash-escaped, hence \\d here.
      spark.sql(
        s"""CREATE OR REPLACE VIEW $dbName.$viewName AS
           |SELECT customer_id, customer_name,
           |  regexp_replace(customer_email, '^([^@]{1,3}).*@', '***@')
           |    AS customer_email,
           |  regexp_replace(ssn, '\\\\d', '*') AS ssn,
           |  sales_region, sales_amount, sale_date
           |FROM $dbName.$tableName""".stripMargin)
    }

  /** Idempotent catalog registration: the sales table + masked view exist
    * after this call (in-memory catalog — re-registered once per session).
    */
  def ensureRegistered(spark: SparkSession): Unit = synchronized {
    val loc = new java.io.File(
      "target/graft-data/sales_parquet").getAbsolutePath
    // the catalog can outlive the JVM (persistent metastore) while the
    // JVM-static governed-locations map cannot: if registration were only
    // inside registerTables(), a restarted session with surviving catalog
    // objects would silently lose direct-path governance. Idempotent, so
    // always re-register the location.
    graft.governance.GovernanceCatalog.registerLocation(
      loc, dbName, tableName)
    if (!spark.catalog.databaseExists(dbName) ||
        !spark.catalog.tableExists(s"$dbName.$tableName") ||
        !spark.catalog.tableExists(s"$dbName.$viewName")) {
      registerTables(spark, loc)
    }
  }

  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** Self-contained DuckDB/ANSI `WITH sales(...) AS (VALUES ...)` prefix so
    * Tier A oracle queries need no external files.
    */
  lazy val valuesCte: String = {
    val rowsSql = (0 until 20).map { i =>
      Seq(
        sqlLit(f"CUST${i + 1}%04d"), sqlLit(names(i)), sqlLit(emails(i)),
        sqlLit(ssns(i)), sqlLit(regions(i)),
        s"CAST(${amounts(i)} AS DOUBLE)", sqlLit(dates(i))
      ).mkString("(", ", ", ")")
    }.mkString(",\n")
    "WITH sales(customer_id, customer_name, customer_email, ssn, " +
      s"sales_region, sales_amount, sale_date) AS (VALUES\n$rowsSql)\n"
  }
}
