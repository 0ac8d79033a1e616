package graft.etl

import java.nio.file.{Files, Paths}
import java.util.Properties

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

/** The sink plane (K1–K5). The pipeline writes through this interface so
  * tests run against Parquet while production targets Postgres over
  * JDBC — replacing the reference's row-at-a-time INSERT + per-document
  * COMMIT (`postgres_loader.py:63-77`, `pipeline.py:265-266`) with
  * partition-parallel batched appends (SURVEY §7.4.1: the documented
  * granularity change).
  */
trait TableSink {
  def tableExists(tableName: String): Boolean
  def createSchema(schemaName: String): Unit
  def createTable(tableName: String, columns: Seq[ColumnDef]): Unit
  def append(df: DataFrame, tableName: String): Unit
}

object TableSink {
  /** Array columns → JSON text, the JSONB wire convention the parquet
    * and JDBC sinks land (the audit table's `missing_columns`).
    */
  private[etl] def arraysToJson(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (acc, f) =>
      f.dataType match {
        case _: ArrayType => acc.withColumn(f.name, to_json(col(f.name)))
        case _ => acc
      }
    }
}

/** Test/local sink: one parquet directory per table under `baseDir`
  * (`schema.table` → `schema.table/`). Array columns (the audit table's
  * `missing_columns`) are stored as JSON strings to mirror the JSONB
  * wire format.
  */
final class ParquetSink(baseDir: String) extends TableSink {

  private def dir(tableName: String) =
    Paths.get(baseDir, SchemaScript.normalizeTableName(tableName))

  override def tableExists(tableName: String): Boolean =
    Files.exists(dir(tableName))

  override def createSchema(schemaName: String): Unit = {
    val _ = Files.createDirectories(Paths.get(baseDir))
  }

  override def createTable(tableName: String, columns: Seq[ColumnDef]): Unit = {
    val _ = Files.createDirectories(dir(tableName))
  }

  override def append(df: DataFrame, tableName: String): Unit =
    TableSink.arraysToJson(df).write.mode("append")
      .parquet(dir(tableName).toString)

  def read(spark: org.apache.spark.sql.SparkSession, tableName: String): DataFrame =
    spark.read.parquet(dir(tableName).toString)
}

/** K3's ensure-database half (reference
  * `etl_pipeline/postgres_loader.py:110-168`, driven by the
  * `create_if_missing`/`admin_db` config knobs): probe the target
  * database; if the connect error says it does not exist, connect to the
  * admin database, check `pg_database`, and `CREATE DATABASE`. Factored
  * against [[EnsureDatabase.AdminOps]] so the DDL sequence is
  * spec-testable without a live server; [[JdbcPostgresSink.ensureDatabase]]
  * binds the live JDBC implementation.
  */
object EnsureDatabase {

  /** The minimal admin-connection surface the ensure flow needs. */
  trait AdminOps {
    /** Try connecting to `dbName`; `Left(message)` on failure. */
    def tryConnect(dbName: String): Either[String, Unit]
    /** Against the ADMIN db: `SELECT 1 FROM pg_database WHERE datname = ?`. */
    def databaseExists(dbName: String): Boolean
    /** Against the ADMIN db, autocommit: `CREATE DATABASE "dbName"`. */
    def createDatabase(dbName: String): Unit
  }

  def apply(db: DatabaseConfig, ops: AdminOps): Unit = {
    if (!db.createIfMissing) return // guard clause, postgres_loader.py:111-112
    ops.tryConnect(db.name) match {
      case Right(_) => // target exists — nothing to do (py:124-127)
      case Left(msg) if msg != null && msg.contains("does not exist") =>
        try {
          if (!ops.databaseExists(db.name)) ops.createDatabase(db.name)
        } catch {
          case e: EtlException => throw e
          case e: Throwable => throw new LoadError(
            s"Failed to create database '${db.name}': ${e.getMessage}")
        }
      case Left(msg) =>
        throw new LoadError(s"Failed to connect to PostgreSQL: $msg")
    }
  }

  def createDatabaseSql(dbName: String): String = {
    if (dbName.isEmpty) throw new LoadError("Database name is required.")
    // Double embedded quotes, as psycopg2's sql.Identifier does
    // (postgres_loader.py:119) — a '"' in a config-supplied name must
    // not break out of the quoted identifier.
    "CREATE DATABASE \"" + dbName.replace("\"", "\"\"") + "\""
  }
}

/** Production sink: PostgreSQL over Spark's JDBC writer. K1 appends are
  * partition-parallel with `batchsize` batching; K2/K3 DDL goes through
  * one driver-side JDBC connection (`IF NOT EXISTS` keeps the
  * check-then-act race benign, SURVEY §7.4.7). JSON-typed columns ride
  * as text with `stringtype=unspecified` so Postgres coerces them into
  * the JSONB target columns.
  */
final class JdbcPostgresSink(db: DatabaseConfig, batchSize: Int = 10000)
    extends TableSink {

  HostGuard.requireLocal(db.host) // F5

  private def urlFor(dbName: String) =
    s"jdbc:postgresql://${db.host}:${db.port}/$dbName?stringtype=unspecified" +
      (if (db.sslmode.nonEmpty) s"&sslmode=${db.sslmode}" else "")

  private def url = urlFor(db.name)

  private def props: Properties = {
    val p = new Properties()
    p.setProperty("user", db.user)
    p.setProperty("password", db.password)
    p.setProperty("driver", "org.postgresql.Driver")
    p
  }

  private def withStatement[A](f: java.sql.Statement => A): A = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val st = conn.createStatement()
      try f(st)
      finally st.close()
    } finally conn.close()
  }

  override def tableExists(tableName: String): Boolean = {
    val (schema, table) = SchemaScript.splitTableName(tableName)
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val st = conn.prepareStatement(
        "SELECT 1 FROM information_schema.tables WHERE table_schema = ? AND table_name = ?")
      st.setString(1, schema)
      st.setString(2, table)
      val rs = st.executeQuery()
      try rs.next()
      finally { rs.close(); st.close() }
    } finally conn.close()
  }

  /** K3 ensure-database: create `db.name` via the admin database when
    * `create_if_missing` is on. Call once before the first pipeline run
    * against a fresh deployment (the Cli does).
    */
  def ensureDatabase(): Unit = EnsureDatabase(db, new JdbcAdminOps)

  private final class JdbcAdminOps extends EnsureDatabase.AdminOps {
    override def tryConnect(dbName: String): Either[String, Unit] =
      try {
        java.sql.DriverManager.getConnection(urlFor(dbName), props).close()
        Right(())
      } catch {
        case e: java.sql.SQLException => Left(String.valueOf(e.getMessage))
      }
    private def onAdmin[A](f: java.sql.Connection => A): A = {
      val conn = java.sql.DriverManager.getConnection(urlFor(db.adminDb), props)
      try { conn.setAutoCommit(true); f(conn) }
      finally conn.close()
    }
    override def databaseExists(dbName: String): Boolean = onAdmin { conn =>
      val st = conn.prepareStatement("SELECT 1 FROM pg_database WHERE datname = ?")
      st.setString(1, dbName)
      val rs = st.executeQuery()
      try rs.next()
      finally { rs.close(); st.close() }
    }
    override def createDatabase(dbName: String): Unit = onAdmin { conn =>
      val st = conn.createStatement()
      try { val _ = st.execute(EnsureDatabase.createDatabaseSql(dbName)) }
      finally st.close()
    }
  }

  override def createSchema(schemaName: String): Unit =
    withStatement { st => val _ = st.execute(SchemaManager.createSchemaSql(schemaName)) }

  override def createTable(tableName: String, columns: Seq[ColumnDef]): Unit =
    withStatement { st =>
      val _ = st.execute(SchemaManager.createTableSql(tableName, columns))
    }

  override def append(df: DataFrame, tableName: String): Unit =
    TableSink.arraysToJson(df).write
      .mode("append")
      .option("batchsize", batchSize)
      .jdbc(url, tableName, props)
}
