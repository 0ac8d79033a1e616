package perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.time.Instant

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{AppConfig, EtlConfig, Ingestion, MappingConfig, ParquetSink,
  PgConn, PgWireSink, Pipeline, TableSink}
import graft.sources.LivePostgres
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

/** What every workload shares: the session, the tracer, the generated
  * configs and the benchmark's scratch directory for sink output.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: Path,
    val out: Path) {
  val app: AppConfig = EtlConfig.loadAppConfig(work.resolve("config/app_config.json").toString)
  val mapping: MappingConfig =
    EtlConfig.loadMappingConfig(work.resolve("config/mapping_config.json").toString)

  val auditTable: String = app.audit.auditTable
  val reportTables: Seq[String] = Seq(
    s"${app.audit.auditSchema}.missing_attributes_report",
    s"${app.audit.auditSchema}.missing_collections_report")
  /** Mapped collections that the inputs carry, in input order. */
  val collections: Seq[String] = Seq("customers", "orders", "products")
  val targetTables: Seq[String] = collections.map(c => mapping.collections(c).targetTable)
  val allTables: Seq[String] = targetTables ++ (auditTable +: reportTables)

  def timing(sink: TableSink): TimingSink =
    new TimingSink(sink, tracer, auditTable, reportTables.toSet)

  /** Pinned run clock: every run of a date writes the same instant. */
  def clock(date: String): Column =
    lit(Timestamp.from(Instant.parse(s"${date}T06:00:00Z")))

  def freshDir(name: String): Path = {
    val d = out.resolve(name)
    Workloads.delete(d)
    d
  }
}

/** One measured operation as the report sees it. `ms` is the latency
  * the user waits, `queryMs` the part of it spent answering queries,
  * `docs` the documents the pipeline reports it processed.
  */
final case class OpRecord(name: String, ms: Double, queryMs: Double, docs: Long,
    bytesWritten: Long, obs: Map[String, Any], error: String = null)

/** One ETL run's latency, counters-query time, processed documents and
  * the observation the checker compares with the ground truth.
  */
final case class EtlOutcome(ms: Double, queryMs: Double, docs: Long, obs: Map[String, Any])

trait Workload {
  /** One-time boots beyond the Spark session, in seconds. */
  def boot(): Double = 0.0
  /** How many timed set-up steps the workload takes. */
  def setupSteps: Int = 3
  /** One of the set-up steps; returns figures the report uses. */
  def setup(rep: Int): Map[String, Any]
  /** Warm-up after the set-up steps; part of set-up, timed as a whole. */
  def warmup(): Unit = ()
  def op(i: Int): OpRecord
  /** The loop runs whole passes of this many operations. */
  def passSize: Int = 1
  /** Whether op `i` ends a round: the heap is sampled after it. */
  def roundEnd(i: Int): Boolean
  /** Checks made once, after the measured loop. */
  def finish(): Seq[Map[String, Any]] = Nil
  /** Bytes the sink holds at the end, and the input bytes that made them. */
  def stored(): (Long, Long)
  /** The collections one operation transforms, for the traced
    * transform-plane measurement; empty when the workload transforms
    * nothing.
    */
  def planeInput(): ListMap[String, DataFrame] = ListMap.empty
  def planeDate: String = Workloads.EtlDate
  def close(): Unit = ()
}

object Workloads {
  val EtlDate = "2025-06-01"

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "etl_pg_batches"  => new EtlPgBatches(ctx)
    case "audit_dashboard" => new AuditDashboard(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** One ETL run as a user of `etl.Cli` meets it: load the input, run
    * the pipeline, collect the run counters, release the run's caches.
    */
  def etlRun(ctx: Ctx, load: () => ListMap[String, DataFrame], sink: TableSink,
      date: String): EtlOutcome = {
    val t = ctx.tracer
    val t0 = System.nanoTime()
    val input = t.span("ingestion.load", "ingestion")(load())
    val result = t.span("pipeline.run", "pipeline")(Pipeline.run(
      ctx.spark, input, ctx.app, ctx.mapping, sink, ctx.clock(date), date))
    val q0 = System.nanoTime()
    val counters = t.span("analytics.runCounters", "analytics")(
      result.counters.map(_.collect().toSeq).getOrElse(Nil))
    val q1 = System.nanoTime()
    result.release()
    val t1 = System.nanoTime()
    val obs = Map(
      "counters" -> Render.rows(counters).sortBy(_.head.toString),
      "object_statuses" -> result.objectStatuses,
      "missing_collections" -> result.missingCollections.toSeq.sorted,
      "unmapped_collections" -> result.unmappedCollections.toSeq.sorted)
    // processed + insert failures: every document the run accounted for
    val docs = counters.map(r => r.getLong(1) + r.getLong(3)).sum
    EtlOutcome((t1 - t0) / 1e6, (q1 - q0) / 1e6, docs, obs)
  }

  /** Rows in a Parquet table dir, from the file footers (no Spark job). */
  def parquetRows(ctx: Ctx, dir: Path): Long = {
    val conf = ctx.spark.sparkContext.hadoopConfiguration
    val s = Files.list(dir)
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).map { f =>
      val r = ParquetFileReader.open(
        HadoopInputFile.fromPath(new HPath(f.toUri), conf))
      try r.getRecordCount finally r.close()
    }.sum
    finally s.close()
  }

  /** Landed row counts and the audit breakdown of a Parquet sink dir. */
  def parquetLanded(ctx: Ctx, dir: Path): Map[String, Any] = {
    val sink = new ParquetSink(dir.toString)
    val rows = ctx.allTables.map(t => t -> parquetRows(ctx, dir.resolve(t))).toMap
    val audit = sink.read(ctx.spark, ctx.auditTable)
      .groupBy(col("object_name"), col("processing_status"))
      .agg(count(lit(1)), count(when(
        col("missing_columns").isNotNull && col("missing_columns") =!= "[]", 1)))
      .collect().toSeq.map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    Map("rows" -> rows, "audit" -> auditBreakdown(audit))
  }

  /** object → {status → docs, "with_missing" → docs}, zeros left out. */
  def auditBreakdown(rows: Seq[(String, String, Long, Long)]): Map[String, Map[String, Long]] =
    rows.groupBy(_._1).map { case (obj, rs) =>
      val byStatus = rs.map(r => r._2 -> r._3).filter(_._2 > 0).toMap
      val withMissing = rs.map(_._4).sum
      obj -> (if (withMissing > 0) byStatus + ("with_missing" -> withMissing) else byStatus)
    }
}

/** `etl_pg_batches`: small envelope files appended one after another
  * into the same Postgres tables through the wire-protocol sink.
  */
final class EtlPgBatches(ctx: Ctx) extends Workload {
  private val batches: Seq[Path] = {
    val s = Files.list(ctx.work.resolve("batches"))
    try s.iterator().asScala.toSeq.sortBy(_.getFileName.toString) finally s.close()
  }
  private var conn: PgConn = _
  private var sink: TimingSink = _
  /** Batch indices landed since the last schema reset. */
  private val landedBatches = scala.collection.mutable.ArrayBuffer.empty[Int]
  private var lastCounts: Map[String, (Long, Long)] = Map.empty

  override def boot(): Double = {
    val t0 = System.nanoTime()
    val h = LivePostgres.get()
    conn = PgConn(h.host, h.port, h.user, h.database)
    sink = ctx.timing(new PgWireSink(conn))
    (System.nanoTime() - t0) / 1e9
  }

  private def sql(q: String): Seq[Seq[String]] = {
    val c = conn.open()
    try c.query(q).rows finally c.close()
  }

  /** Row count and stored row bytes per table. Row bytes, not relation
    * size: concurrent COPYs make Postgres extend a relation by several
    * pages at a time, so the page count depends on timing.
    */
  private def tableStats(): Map[String, (Long, Long)] =
    sql(ctx.allTables.map { t =>
      s"SELECT '$t', count(*), coalesce(sum(pg_column_size(x.*)), 0) FROM $t x"
    }.mkString(" UNION ALL ")).map(r => r(0) -> (r(1).toLong, r(2).toLong)).toMap

  private def runBatch(b: Int): EtlOutcome = {
    val r = Workloads.etlRun(ctx,
      () => Ingestion.loadEnvelope(ctx.spark, batches(b).toString), sink, Workloads.EtlDate)
    landedBatches += b
    r
  }

  override def setup(rep: Int): Map[String, Any] = {
    val _ = sql("DROP SCHEMA IF EXISTS doc_audit CASCADE; " +
      "DROP SCHEMA IF EXISTS public CASCADE; CREATE SCHEMA public")
    landedBatches.clear()
    // This batch creates the tables (the NEW path); the measured loop
    // appends to them (ALREADY_EXISTS).
    runBatch(0)
    lastCounts = tableStats()
    Map.empty
  }

  override def op(i: Int): OpRecord = {
    val b = i % batches.size
    val r = runBatch(b)
    val stats = tableStats()
    val delta = stats.map { case (t, (n, _)) => t -> (n - lastCounts(t)._1) }
    val bytes = stats.map(_._2._2).sum - lastCounts.values.map(_._2).sum
    lastCounts = stats
    OpRecord("batch", r.ms, r.queryMs, r.docs, bytes,
      r.obs + ("batch" -> b) + ("rows" -> delta))
  }

  override def roundEnd(i: Int): Boolean = i % 4 == 3

  override def stored(): (Long, Long) =
    (tableStats().values.map(_._2).sum, landedBatches.map(b => Files.size(batches(b))).sum)

  /** Final read-back: every table's rows and the audit breakdown from
    * Postgres, against every batch landed since the last reset.
    */
  override def finish(): Seq[Map[String, Any]] = {
    val audit = sql(
      s"""SELECT object_name, processing_status, count(*),
         |  count(*) FILTER (WHERE jsonb_array_length(missing_columns) > 0)
         |FROM ${ctx.auditTable} GROUP BY 1, 2""".stripMargin)
      .map(r => (r(0), r(1), r(2).toLong, r(3).toLong))
    Seq(Map("name" -> "postgres_final", "batches" -> landedBatches.toSeq,
      "obs" -> Map("rows" -> tableStats().map { case (t, (n, _)) => t -> n },
        "audit" -> Workloads.auditBreakdown(audit))))
  }

  override def planeInput(): ListMap[String, DataFrame] =
    Ingestion.loadEnvelope(ctx.spark, batches.head.toString)
}

/** `audit_dashboard`: one analyst cycling through the dashboard and
  * repository queries, in the generated order, over the audit and
  * target tables that set-up landed in Parquet. Set-up is itself the
  * bulk ETL path: one JSONL corpus per pinned ingestion date, read with
  * `Ingestion.fromJsonLines` and appended by `Pipeline.run`.
  */
final class AuditDashboard(ctx: Ctx) extends Workload {
  private def lines(name: String): IndexedSeq[String] =
    Files.readAllLines(ctx.work.resolve(name)).asScala
      .map(_.trim).filter(_.nonEmpty).toIndexedSeq
  private val dates = lines("dash/dates.txt")
  private val order = lines("queries.txt")
  private val dir = ctx.freshDir("dash")
  private val sink = new ParquetSink(dir.toString)
  private val dash = new Dashboard(ctx.spark, sink, ctx)
  private val loads = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
  private val colls = ctx.collections :+ "events_log"
  private var inputBytes = 0L

  private def corpus(rep: Int): ListMap[String, DataFrame] =
    ListMap(colls.map(c => c -> Ingestion.fromJsonLines(
      ctx.spark, ctx.work.resolve(s"dash/date_$rep/$c.jsonl").toString)): _*)

  /** One step per pinned date: step `rep` lands date `rep`, one ETL run
    * appending to the same Parquet tables.
    */
  override def setupSteps: Int = dates.size
  override def setup(rep: Int): Map[String, Any] = {
    val r = Workloads.etlRun(ctx, () => corpus(rep), sink, dates(rep))
    loads += r.obs
    inputBytes += colls.map(c => Files.size(ctx.work.resolve(s"dash/date_$rep/$c.jsonl"))).sum
    Map("load_s" -> r.ms / 1e3, "load_docs" -> r.docs)
  }

  override def stored(): (Long, Long) = (Workloads.treeBytes(dir), inputBytes)

  /** Each set-up load's report, and what the loads left in the tables. */
  override def finish(): Seq[Map[String, Any]] =
    loads.toSeq.zipWithIndex.map { case (obs, i) =>
      Map("name" -> s"dashboard_load_$i", "obs" -> obs)
    } :+ Map("name" -> "dashboard_landed", "obs" -> Workloads.parquetLanded(ctx, dir))

  override def planeInput(): ListMap[String, DataFrame] = corpus(0)
  override def planeDate: String = dates(0)

  /** One pass over every query, so their plans are compiled and warm. */
  override def warmup(): Unit = Dashboard.Queries.foreach(q => dash.run(q))
  override def passSize: Int = Dashboard.Queries.size

  override def op(i: Int): OpRecord = {
    val q = order(i % order.size)
    val t0 = System.nanoTime()
    try {
      val rows = ctx.tracer.span(s"analytics.$q", "analytics")(dash.run(q))
      val ms = (System.nanoTime() - t0) / 1e6
      OpRecord(q, ms, ms, 0L, 0L, Map("rows" -> rows))
    } catch {
      case e: Exception =>
        OpRecord(q, (System.nanoTime() - t0) / 1e6, 0.0, 0L, 0L, Map.empty,
          error = String.valueOf(e))
    }
  }

  override def roundEnd(i: Int): Boolean = i % passSize == passSize - 1
  override def close(): Unit = Workloads.delete(dir)
}

/** The dashboard's query mix over one Parquet sink. Every call builds
  * its DataFrames afresh, as a dashboard re-issuing the query does.
  */
final class Dashboard(spark: SparkSession, sink: ParquetSink, ctx: Ctx) {
  import graft.analytics.AuditAnalytics._
  import org.apache.spark.sql.types.{ArrayType, StringType}
  import spark.implicits._

  private def audit: DataFrame = sink.read(spark, ctx.auditTable)
  private def auditMc: DataFrame =
    audit.withColumn("mc", from_json(col("missing_columns"), ArrayType(StringType)))
  private val ts = col("ingested_at")
  private val status = col("processing_status")

  private def build(q: String): DataFrame = q match {
    case "countOnLatestDate" => countOnLatestDate(audit, ts)
    case "maxDate" => maxDate(audit, ts)
    case "groupedConditionalCount" =>
      groupedConditionalCount(audit, ts, col("source_collection"), status === "error")
    case "pivotCountsDynamic" => pivotCountsDynamic(audit, "object_name", "processing_status")
    case "explodeFrequency" => explodeFrequency(auditMc, col("mc"))
    case "kpiCounts" => kpiCounts(auditMc, status === "success", size(col("mc")) > 0)
    case "coverage" =>
      val expected = ctx.mapping.collections.values.map(_.targetTable).toSeq
        .toDF("object_name")
      coverage(expected, audit.filter(status =!= "missing").select("object_name"),
        "object_name")
    case "fullOuterCounts" =>
      def byDate(df: DataFrame, name: String) =
        df.groupBy(to_date(ts).as("ingestion_date"), col("source_collection"))
          .agg(count(lit(1)).as(name))
      val landed = ctx.targetTables
        .map(t => sink.read(spark, t).select("ingested_at", "source_collection"))
        .reduce(_ unionByName _)
      fullOuterCounts(byDate(audit, "audit_docs"), byDate(landed, "landed_rows"),
        Seq("ingestion_date", "source_collection"), Seq("audit_docs", "landed_rows"),
        "ingestion_date", "source_collection")
    case "lookupRemap" =>
      val lookup = ctx.collections
        .map(c => (ctx.mapping.collections(c).targetTable, c)).toDF("target_table", "collection")
      lookupRemap(audit, lookup, "object_name", "target_table", "collection",
        substring_index(col("object_name"), ".", -1))
    case "runCounters" =>
      runCounters(audit, col("source_collection"), status === "error", status === "missing")
    case "missingColumnsUnion" => missingColumnsUnion(auditMc, col("object_name"), col("mc"))
    case "preview" =>
      audit.orderBy(desc("ingested_at"), asc("object_name"), asc_nulls_last("object_id"))
        .limit(10).select("ingested_at", "object_id", "object_name", "processing_status")
    case other => throw new IllegalArgumentException(s"unknown query: $other")
  }

  def run(q: String): Seq[Seq[Any]] = Render.rows(build(q).collect().toSeq)
}

object Dashboard {
  val Queries: Seq[String] = Seq(
    "countOnLatestDate", "maxDate", "groupedConditionalCount", "pivotCountsDynamic",
    "explodeFrequency", "kpiCounts", "coverage", "fullOuterCounts", "lookupRemap",
    "runCounters", "missingColumnsUnion", "preview")
}

/** Query results as JSON-ready values: dates as YYYY-MM-DD, timestamps
  * as ISO instants, arrays as lists.
  */
object Render {
  def value(v: Any): Any = v match {
    case null => null
    case d: java.sql.Date => d.toString
    case t: java.sql.Timestamp => t.toInstant.toString
    case s: scala.collection.Seq[_] => s.map(value).toSeq
    case other => other
  }

  def rows(rs: Seq[Row]): Seq[Seq[Any]] = rs.map(_.toSeq.map(value))
}
