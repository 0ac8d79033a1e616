package graft.etl

import scala.collection.immutable.ListMap

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** T1–T10 semantics against reference `etl_pipeline/transformer.py`:
  * the date matrix (all 10 formats + first-match ambiguity), the boolean
  * token table, missing-vs-null, cast-failure → NULL + error, and the
  * audit-row shape.
  */
class TransformSpec extends AnyFunSuite with SparkTestSession {

  private def flat(docs: Seq[String], cm: CollectionMapping) = {
    import spark.implicits._
    TransformFlat(
      docs.toDF("raw"), "raw", cm, EtlDefaults.runtime, EtlDefaults.audit)
  }

  private def one(doc: String, typeName: String): Row = {
    val cm = CollectionMapping("t", "raw_json", "a",
      ListMap("a" -> AttributeMapping("out", typeName)))
    flat(Seq(doc), cm).select("out", "n_errors", "status").head()
  }

  // --- T4: the full date matrix ------------------------------------------

  test("date matrix: each of the 10 reference formats parses to the canonical date") {
    val cases = Seq(
      """{"a": "2025-03-04"}""" -> "2025-03-04",
      """{"a": "03/04/2025"}""" -> "2025-03-04", // %m/%d/%Y
      """{"a": "04-03-2025"}""" -> "2025-03-04", // %d-%m-%Y
      """{"a": "2025/03/04"}""" -> "2025-03-04",
      """{"a": "2025.03.04"}""" -> "2025-03-04",
      """{"a": "2025-03-04T10:30:05"}""" -> "2025-03-04",
      """{"a": "2025-03-04T10:30:05+0000"}""" -> "2025-03-04",
      """{"a": "2025-03-04T10:30:05.123456Z"}""" -> "2025-03-04",
      """{"a": "04-03-2025 10:30:05"}""" -> "2025-03-04", // %d-%m-%Y %H:%M:%S
      """{"a": "03/04/2025 10:30 PM"}""" -> "2025-03-04") // %m/%d/%Y %I:%M %p
    for ((doc, want) <- cases) {
      val r = one(doc, "date")
      assert(r.getString(0) == want, s"for $doc")
      assert(r.getInt(1) == 0, s"no error for $doc")
    }
  }

  test("date first-match ambiguity: 01/02/2025 is %m/%d (Jan 2) not %d-%m") {
    assert(one("""{"a": "01/02/2025"}""", "date").getString(0) == "2025-01-02")
    // and 01-02-2025 hits %d-%m-%Y first (Feb 1) — dashes skip format 2
    assert(one("""{"a": "01-02-2025"}""", "date").getString(0) == "2025-02-01")
  }

  test("datetime canonical output: naive stays naive, offset renders +0000") {
    assert(one("""{"a": "2025-03-04T10:30:05"}""", "datetime").getString(0)
      == "2025-03-04T10:30:05")
    assert(one("""{"a": "04-03-2025 10:30:05"}""", "datetime").getString(0)
      == "2025-03-04T10:30:05")
    // date-only input → midnight (datetime.combine(value, time.min))
    assert(one("""{"a": "2025-03-04"}""", "datetime").getString(0)
      == "2025-03-04T00:00:00")
    // offset-carrying input → normalized instant + +0000 suffix
    assert(one("""{"a": "2025-03-04T10:30:05+0000"}""", "datetime").getString(0)
      == "2025-03-04T10:30:05+0000")
    assert(one("""{"a": "2025-03-04T10:30:05.123456Z"}""", "datetime").getString(0)
      == "2025-03-04T10:30:05")
  }

  test("invalid date / datetime → NULL + the reference's distinct messages") {
    val d = one("""{"a": "not a date"}""", "date")
    assert(d.isNullAt(0) && d.getInt(1) == 1 && d.getString(2) == "error")
    val dt = one("""{"a": 1234}""", "datetime") // non-string → invalid
    assert(dt.isNullAt(0) && dt.getInt(1) == 1)
    val cm = CollectionMapping("t", "raw_json", "a",
      ListMap("a" -> AttributeMapping("out", "date")))
    val errs = flat(Seq("""{"a": "junk"}"""), cm)
    assert(errs.select("status").head().getString(0) == "error")
  }

  // --- T5: boolean token table -------------------------------------------

  test("boolean token table: true/t/yes/y/1 and false/f/no/n/0, trimmed, any case") {
    for (tok <- Seq("true", "T", "Yes", " y ", "1", "TRUE"))
      assert(one(s"""{"a": "$tok"}""", "boolean").getBoolean(0), s"for '$tok'")
    for (tok <- Seq("false", "F", "No", " n ", "0", "FALSE"))
      assert(!one(s"""{"a": "$tok"}""", "boolean").getBoolean(0), s"for '$tok'")
    // invalid token → NULL + error
    val bad = one("""{"a": "maybe"}""", "boolean")
    assert(bad.isNullAt(0) && bad.getInt(1) == 1)
    // native JSON bool passthrough; numerics via != 0
    assert(one("""{"a": true}""", "boolean").getBoolean(0))
    assert(one("""{"a": 0}""", "boolean").getBoolean(0) == false)
    assert(one("""{"a": 2.5}""", "boolean").getBoolean(0))
  }

  // --- T3: cast dispatch table -------------------------------------------

  test("int semantics: truncation for numbers, integral-only strings") {
    assert(one("""{"a": 3.7}""", "integer").getInt(0) == 3)
    assert(one("""{"a": -3.7}""", "int").getInt(0) == -3)
    assert(one("""{"a": "42"}""", "integer").getInt(0) == 42)
    assert(one("""{"a": " 42 "}""", "integer").getInt(0) == 42)
    assert(one("""{"a": true}""", "integer").getInt(0) == 1)
    val bad = one("""{"a": "3.7"}""", "integer") // int("3.7") raises in Python
    assert(bad.isNullAt(0) && bad.getInt(1) == 1)
    assert(one("""{"a": 9999999999}""", "bigint").getLong(0) == 9999999999L)
    assert(one("""{"a": 12}""", "smallint").getShort(0) == 12)
  }

  test("float / numeric / text semantics") {
    assert(one("""{"a": "2.5"}""", "float").getDouble(0) == 2.5)
    assert(one("""{"a": true}""", "double").getDouble(0) == 1.0)
    assert(one("""{"a": "451.20"}""", "numeric").getDecimal(0)
      .compareTo(new java.math.BigDecimal("451.20")) == 0)
    // Decimal(str(True)) raises in Python → error here
    val badDec = one("""{"a": true}""", "decimal")
    assert(badDec.isNullAt(0) && badDec.getInt(1) == 1)
    // str() semantics: numbers plain, booleans capitalized
    assert(one("""{"a": 3}""", "text").getString(0) == "3")
    assert(one("""{"a": true}""", "text").getString(0) == "True")
    assert(one("""{"a": "x"}""", "varchar").getString(0) == "x")
    // text never errors
    assert(one("""{"a": [1,2]}""", "text").getInt(1) == 0)
  }

  // --- T2: missing vs null ------------------------------------------------

  test("missing attribute → NULL + tracked; JSON null → NULL, NOT tracked") {
    val cm = CollectionMapping("t", "raw_json", "a", ListMap(
      "a" -> AttributeMapping("a_out", "integer"),
      "b" -> AttributeMapping("b_out", "text")))
    val df = flat(Seq("""{"a": 1}""", """{"a": 1, "b": null}""", """{"a": 1, "b": "x"}"""), cm)
    val rows = df.select("a_out", "b_out", "missing_columns", "n_errors").collect()
    assert(rows(0).getString(2) == """["b_out"]""") // absent → tracked as target-column name
    assert(rows(1).isNullAt(1) && rows(1).getString(2) == "[]") // null → not tracked
    assert(rows(2).getString(1) == "x" && rows(2).getString(2) == "[]")
    assert(rows.forall(_.getInt(3) == 0)) // null/missing are never errors
  }

  // --- T8/T10/K4: collection transform shape -------------------------------

  test("transformCollection: target + audit frames with configured column names") {
    import spark.implicits._
    val cm = CollectionMapping("public.people", "raw_json", "_id", ListMap(
      "_id" -> AttributeMapping("person_id", "integer"),
      "name" -> AttributeMapping("full_name", "text")))
    val docs = Seq("""{"_id": 7, "name": "Ada"}""", """{"_id": 8}""").toDF("raw")
    val tc = Transform.transformCollection(
      docs, "raw", "people", cm, EtlDefaults.runtime, EtlDefaults.audit,
      objectStatus = "NEW", clock = lit("2026-01-01 00:00:00").cast("timestamp"))

    assert(tc.target.columns.toSeq ==
      Seq("person_id", "full_name", "raw_json", "ingested_at", "source_collection", "status"))
    val t = tc.target.orderBy("person_id").collect()
    assert(t(0).getAs[String]("raw_json") == """{"_id": 7, "name": "Ada"}""") // T7 verbatim
    assert(t(0).getAs[String]("source_collection") == "people")
    assert(t(0).getAs[String]("status") == "success")

    assert(tc.audit.columns.toSeq == Seq("ingested_at", "object_id",
      "source_collection", "object_name", "object_status", "missing_columns",
      "processing_status"))
    val a = tc.audit.orderBy("object_id").collect()
    assert(a(0).getAs[String]("object_id") == "7")
    assert(a(0).getAs[String]("object_name") == "public.people")
    assert(a(0).getAs[String]("object_status") == "NEW")
    def missing(r: Row) = r.getSeq[String](r.fieldIndex("missing_columns")).toList
    assert(missing(a(0)) == Nil)
    assert(missing(a(1)) == List("full_name"))
    assert(a.forall(_.getAs[String]("processing_status") == "success"))
  }

  test("unsupported mapping type rejected at plan time") {
    assertThrows[ConfigError](
      one("""{"a": 1}""", "uuid"))
  }
}
