package graft.etl

import scala.collection.immutable.ListMap

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.SparkTestSession

/** SURVEY §5.2 property-based invariants over the transform plane
  * (native ScalaCheck `Properties`, run by sbt's scalacheck framework):
  *  - the transform never throws, whatever JSON scalar arrives;
  *  - absent attributes are tracked exactly (missing ∪ present = mapped);
  *  - cast failure ⇒ NULL output + error + status=error;
  *  - null/missing inputs are never errors;
  *  - strptime round-trip: the parse pattern accepts the format
  *    pattern's output.
  */
object TransformPropertySpec extends Properties("TransformProperties") {

  private lazy val spark = SparkTestSession.session

  private val jsonScalar: Gen[String] = Gen.oneOf(
    Gen.choose(-1000000L, 1000000L).map(_.toString),
    Gen.choose(-1e6, 1e6).map(d => f"$d%.3f"),
    Gen.oneOf("true", "false", "null"),
    Gen.identifier.suchThat(s => s.nonEmpty && s.length < 20).map(s => "\"" + s + "\""),
    Gen.oneOf("\"2025-03-04\"", "\"03/04/2025\"", "\"junk\"", "[1, 2]"))

  private val typeGen: Gen[String] = Gen.oneOf(
    "text", "integer", "bigint", "float", "numeric", "boolean", "date", "datetime")

  private def cm(types: Seq[String]) = CollectionMapping(
    "t", "raw_json", "a0", ListMap(
      types.zipWithIndex.map { case (t, i) =>
        s"a$i" -> AttributeMapping(s"c$i", t)
      }: _*))

  private def flat(docs: Seq[String], types: Seq[String]) = {
    import spark.implicits._
    TransformFlat(
      docs.toDF("raw"), "raw", cm(types), EtlDefaults.runtime, EtlDefaults.audit)
  }

  property("never throws; absent attrs tracked exactly; errors imply error status") =
    forAll(Gen.listOfN(3, jsonScalar), Gen.listOfN(4, typeGen), Gen.choose(0, 2)) {
      (values: List[String], types: List[String], dropIdx: Int) =>
        val present = values.zipWithIndex.filterNot(_._2 == dropIdx)
        val doc = present.map { case (v, i) => s""""a$i": $v""" }.mkString("{", ", ", "}")
        val row = flat(Seq(doc), types).head() // must not throw
        val expectMissing =
          Seq(dropIdx, 3).sorted.map(i => s""""c$i"""").mkString("[", ",", "]")
        val missingOk = row.getAs[String]("missing_columns") == expectMissing
        val statusOk =
          (row.getAs[Int]("n_errors") > 0) == (row.getAs[String]("status") == "error")
        missingOk :| s"missing_columns for $doc" && statusOk :| s"status for $doc"
    }

  property("cast failure nulls the column and records the error") =
    forAll(Gen.oneOf("integer", "numeric", "boolean", "date", "datetime")) { t =>
      val row = flat(Seq("""{"a0": "definitely not castable"}"""), Seq(t)).head()
      row.isNullAt(row.fieldIndex("c0")) &&
        row.getAs[Int]("n_errors") == 1 &&
        row.getAs[String]("status") == "error"
    }

  property("null and missing are never errors") = forAll(typeGen) { t =>
    val rows = flat(Seq("""{"a0": null}""", """{}"""), Seq(t)).collect()
    rows.forall(r => r.getAs[Int]("n_errors") == 0 &&
      r.isNullAt(r.fieldIndex("c0")) &&
      r.getAs[String]("status") == "success")
  }

  property("strptime round-trip: parse pattern accepts format-pattern output") = {
    import java.time.LocalDateTime
    import java.time.format.DateTimeFormatter
    val dates = for {
      epochDay <- Gen.choose(-100000L, 100000L)
      secs <- Gen.choose(0L, 86399L)
    } yield LocalDateTime.ofEpochSecond(epochDay * 86400 + secs, 0, java.time.ZoneOffset.UTC)
    val formats = EtlDefaults.dateFormats
      .filterNot(f => f.contains("%z") || f.contains("%f"))
    forAll(dates, Gen.oneOf(formats)) { (dt, fmt) =>
      val out = DateTimeFormatter.ofPattern(StrptimeFormats.toFormatPattern(fmt)).format(dt)
      DateTimeFormatter.ofPattern(StrptimeFormats.toParsePattern(fmt)).parse(out) != null
    }
  }
}
