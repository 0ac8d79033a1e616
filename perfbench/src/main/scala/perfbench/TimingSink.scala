package perfbench

import org.apache.spark.sql.DataFrame

import graft.etl.{ColumnDef, TableSink}

/** A [[TableSink]] decorator that opens one span per call on the real
  * sink: `sink.ddl` for the probes and DDL, and `sink.append_target`,
  * `sink.append_audit` or `sink.append_report` for appends, told apart
  * by table name.
  */
final class TimingSink(underlying: TableSink, tracer: Tracer,
    auditTable: String, reportTables: Set[String]) extends TableSink {

  private def ddl[A](body: => A): A = tracer.span("sink.ddl", "sink")(body)

  override def tableExists(tableName: String): Boolean =
    ddl(underlying.tableExists(tableName))

  override def createSchema(schemaName: String): Unit =
    ddl(underlying.createSchema(schemaName))

  override def createTable(tableName: String, columns: Seq[ColumnDef]): Unit =
    ddl(underlying.createTable(tableName, columns))

  override def append(df: DataFrame, tableName: String): Unit = {
    val kind =
      if (tableName == auditTable) "sink.append_audit"
      else if (reportTables(tableName)) "sink.append_report"
      else "sink.append_target"
    tracer.span(kind, "sink")(underlying.append(df, tableName))
  }
}
