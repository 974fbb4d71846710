package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.UcJson

/** Byte-parity port of the reference's unit tests
  * (/root/reference/steps/tests.py) against UcJson.
  *
  * Where the reference compares json.dumps(expected) == json.dumps(actual)
  * we compare our canonical serialization of both sides — same strength
  * (structural equality + identical rendering rules).
  */
class UcJsonSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  private def canon(json: String): String = UcJson.canonicalize(json)

  /** validate() → canonical output form (UCMessage.utf8_decrypted_record) */
  private def validated(decrypted: String): String =
    canon(UcJson.validate(decrypted)._1)

  // ---- tests.py TestUCMessage ----

  test("utf8 output keeps non-ascii raw (test_get_utf8_message)") {
    assert(canon("""{"key": "ç"}""") === """{"key":"ç"}""")
  }

  test("is_delete true when _removedDateTime present (test_is_delete)") {
    val rec =
      """{"_lastModifiedDateTime": "2019-07-04T07:27:35.104+0000",
        | "dbObject": "mock_encrypted_dbobject",
        | "_removedDateTime": "2019-07-04T07:27:35.104+0000"}""".stripMargin
    assert(UcJson.validate(rec)._2 === true)
  }

  test("is_delete false without _removedDateTime (test_is_not_delete)") {
    val rec =
      """{"_lastModifiedDateTime": "2019-07-04T07:27:35.104+0000",
        | "dbObject": "mock_encrypted_dbobject"}""".stripMargin
    assert(UcJson.validate(rec)._2 === false)
  }

  // ---- tests.py TestUCMessageTransform ----

  test("businessAudit transform enriches and unwraps context (test_transform)") {
    val audit = """{"context": {"AUDIT_ID": "12.0.0.1"}, "auditType": "audit_type"}"""
    val out = canon(UcJson.transformAudit(audit, "2019-07-04T07:27:35.104+0000"))
    val expected = canon(
      """{"AUDIT_ID": "12.0.0.1", "AUDIT_EVENT": "audit_type",
        | "TIME_STAMP": "2019-07-04T07:27:35.104+0000",
        | "TIME_STAMP_ORIG": "2019-07-04T07:27:35.104+0000"}""".stripMargin)
    assert(out === expected)
  }

  test("transform raises without auditType (test_transform_without_audit_type)") {
    intercept[Exception] {
      UcJson.transformAudit("""{"context": {"AUDIT_ID": "12.0.0.1"}}""", "x")
    }
  }

  test("transform raises without context (test_transform_without_context)") {
    intercept[Exception] {
      UcJson.transformAudit("""{"auditType": "audit_type"}""", "x")
    }
  }

  // ---- tests.py TestUCMessageValidate ----

  test("invalid json raises (test_invalid_json)") {
    intercept[Exception] { UcJson.validate("{NOTVALID}{JSON}") }
  }

  test("primitive record raises (test_record_is_primitive)") {
    intercept[Exception] { UcJson.validate("some_normal_string") }
  }

  test("archived dropped when removed present (test_should_remove_archived_ts_...)") {
    val rec =
      """{"_id": {"id": "12345"},
        | "_archivedDateTime": "2021-10-10T03:35:51.145+0000",
        | "_removedDateTime": "2021-10-12T10:06:01.280+0000",
        | "_lastModifiedDateTime": "2021-10-02T14:02:16.653+0000"}""".stripMargin
    val out = mapper.readTree(validated(rec))
    assert(out.has("_removedDateTime"))
    assert(!out.has("_archivedDateTime"))
  }

  test("archived kept when removed absent (test_not_should_remove_archived_ts_...)") {
    val rec =
      """{"_id": {"id": "12345"},
        | "_archivedDateTime": "2021-10-10T03:35:51.145+0000",
        | "_lastModifiedDateTime": "2021-10-02T14:02:16.653+0000"}""".stripMargin
    assert(mapper.readTree(validated(rec)).has("_archivedDateTime"))
  }

  test("absent _id tolerated (test_should_tolerate_absent_id)") {
    val rec =
      """{"_id1": {"test_key_a": "test_value_a", "test_key_b": "test_value_b"},
        | "_lastModifiedDateTime": "2018-12-14T15:01:02.000+0000"}""".stripMargin
    val expected = canon(
      """{"_id1": {"test_key_a": "test_value_a", "test_key_b": "test_value_b"},
        | "_lastModifiedDateTime": {"$date": "2018-12-14T15:01:02.000Z"}}""".stripMargin)
    assert(validated(rec) === expected)
  }

  test("primitive ids wrapped as $oid (test_primitive_id)") {
    assert(mapper.readTree(validated("""{"_id": "PRIMITIVE_ID"}""")).get("_id")
      === mapper.readTree("""{"$oid": "PRIMITIVE_ID"}"""))
    assert(mapper.readTree(validated("""{"_id": 1234}""")).get("_id")
      === mapper.readTree("""{"$oid": "1234"}"""))
    // python str(True) renders "True"
    assert(mapper.readTree(validated("""{"_id": true}""")).get("_id")
      === mapper.readTree("""{"$oid": "True"}"""))
  }

  test("object ids not wrapped (test_json_id)") {
    val rec =
      """{"_id": {"some_id": "actual_id"},
        | "_archivedDateTime": "2021-10-10T03:35:51.145+0000",
        | "_removedDateTime": "2021-10-12T10:06:01.280+0000",
        | "_lastModifiedDateTime": "2021-10-02T14:02:16.653+0000"}""".stripMargin
    assert(mapper.readTree(validated(rec)).get("_id")
      === mapper.readTree("""{"some_id": "actual_id"}"""))
  }

  test("missing _id stays missing (test_no_id)") {
    assert(!mapper.readTree(validated("""{"some_key": "some_value"}""")).has("_id"))
  }

  // ---- tests.py TestDateWrapper (via validate, which runs process_object) ----

  test("nested dates wrapped everywhere incl arrays (test_process_nested_dates)") {
    val rec =
      """{"_lastModifiedDateTime": {"$date": "2001-12-14T15:01:02.000+0000"},
        | "notDate1": 123, "notDate2": "abc",
        | "parentDate": "2017-12-14T15:01:02.000+0000",
        | "childObjectWithDates": {
        |   "_lastModifiedDateTime": {"$date": "1980-12-14T15:01:02.000+0000"},
        |   "grandChildObjectWithDate": {
        |     "notDate1": 123, "notDate2": "abc",
        |     "grandChildDate1": "2019-12-14T15:01:02.000+0000"},
        |   "childDate": "2018-12-14T15:01:02.000+0000",
        |   "arrayWithDates": [
        |     789, "xyz",
        |     "2010-12-14T15:01:02.000+0000",
        |     ["2011-12-14T15:01:02.000+0000", "qwerty"],
        |     {"grandChildDate3": "2012-12-14T15:01:02.000+0000",
        |      "_lastModifiedDateTime": "1995-12-14T15:01:02.000+0000"}]}}""".stripMargin
    val expected = canon(
      """{"_lastModifiedDateTime": {"$date": "2001-12-14T15:01:02.000Z"},
        | "notDate1": 123, "notDate2": "abc",
        | "parentDate": {"$date": "2017-12-14T15:01:02.000Z"},
        | "childObjectWithDates": {
        |   "_lastModifiedDateTime": {"$date": "1980-12-14T15:01:02.000Z"},
        |   "grandChildObjectWithDate": {
        |     "notDate1": 123, "notDate2": "abc",
        |     "grandChildDate1": {"$date": "2019-12-14T15:01:02.000Z"}},
        |   "childDate": {"$date": "2018-12-14T15:01:02.000Z"},
        |   "arrayWithDates": [
        |     789, "xyz",
        |     {"$date": "2010-12-14T15:01:02.000Z"},
        |     [{"$date": "2011-12-14T15:01:02.000Z"}, "qwerty"],
        |     {"grandChildDate3": {"$date": "2012-12-14T15:01:02.000Z"},
        |      "_lastModifiedDateTime": {"$date": "1995-12-14T15:01:02.000Z"}}]}}""".stripMargin)
    assert(validated(rec) === expected)
  }

  test("common top-level dates wrapped (test_wraps_common_dates)") {
    val rec =
      """{"_lastModifiedDateTime": "2001-12-14T15:01:02.000+0000",
        | "createdDateTime": "2001-12-01T15:01:02.000+0000",
        | "_removedDateTime": "2001-12-02T15:01:02.000+0000",
        | "_archivedDateTime": "2001-12-03T15:01:02.000+0000"}""".stripMargin
    // validate drops _archivedDateTime because _removedDateTime is present
    val expected = canon(
      """{"_lastModifiedDateTime": {"$date": "2001-12-14T15:01:02.000Z"},
        | "createdDateTime": {"$date": "2001-12-01T15:01:02.000Z"},
        | "_removedDateTime": {"$date": "2001-12-02T15:01:02.000Z"}}""".stripMargin)
    assert(validated(rec) === expected)
  }

  test("non-UTC offsets converted (test_non_utc)") {
    assert(validated("""{"dateTime": "2001-12-01T15:01:02.000+0100"}""")
      .contains(""""dateTime":{"$date":"2001-12-01T14:01:02.000Z"}"""))
  }

  test("existing mongo dates reformatted in place (test_rewraps_mongo_dates)") {
    assert(validated("""{"dateTime": {"$date": "2001-12-01T15:01:02.000+0000"}}""")
      .contains(""""dateTime":{"$date":"2001-12-01T15:01:02.000Z"}"""))
  }

  test("dates inside _id object wrapped (test_wraps_id_dates)") {
    val rec =
      """{"_id": {
        |   "_lastModifiedDateTime": "2001-12-14T15:01:02.000+0000",
        |   "createdDateTime": "2001-12-01T15:01:02.000+0000",
        |   "_removedDateTime": "2001-12-02T15:01:02.000+0000",
        |   "_archivedDateTime": "2001-12-03T15:01:02.000+0000",
        |   "someOtherDate": "1990-12-02T15:01:02.000+0000"}}""".stripMargin
    val out = mapper.readTree(validated(rec)).get("_id")
    val expected = mapper.readTree(
      """{"_lastModifiedDateTime": {"$date": "2001-12-14T15:01:02.000Z"},
        | "createdDateTime": {"$date": "2001-12-01T15:01:02.000Z"},
        | "_removedDateTime": {"$date": "2001-12-02T15:01:02.000Z"},
        | "_archivedDateTime": {"$date": "2001-12-03T15:01:02.000Z"},
        | "someOtherDate": {"$date": "1990-12-02T15:01:02.000Z"}}""".stripMargin)
    assert(out === expected)
  }

  test("dates embedded in broader text NOT wrapped (test_should_not_wrap_dates_in_broader_text)") {
    val d = "2016-12-14T15:01:02.000Z"
    val rec = mapper.createObjectNode()
    rec.put("bodyOfText", s"$d This text starts with a date, but is not a date")
    rec.put("bodyOfText2", s"This text ends with a date, but is not a date $d")
    rec.put("bodyOfText3", s"This text includes a date, $d, but is not a date")
    val out = mapper.readTree(validated(rec.toString))
    assert(out.get("bodyOfText").isTextual && out.get("bodyOfText2").isTextual
      && out.get("bodyOfText3").isTextual)
  }

  test("already-outgoing wrapped dates kept (test_should_keep_dates_within_wrapper)") {
    val rec =
      """{"createdDateTime": {"$date": "2018-12-14T15:01:02.000Z"},
        | "_lastModifiedDateTime": {"$date": "2019-12-14T15:01:02.000Z"}}""".stripMargin
    val expected = canon(
      """{"createdDateTime": {"$date": "2018-12-14T15:01:02.000Z"},
        | "_lastModifiedDateTime": {"$date": "2019-12-14T15:01:02.000Z"}}""".stripMargin)
    assert(validated(rec) === expected)
  }

  test("empty/null created/removed/archived tolerated (test_should_allow_for_empty/null_...)") {
    val recEmpty =
      """{"_lastModifiedDateTime": "2019-12-14T15:01:02.000Z",
        | "createdDateTime": "", "_removedDateTime": "", "_archivedDateTime": ""}""".stripMargin
    val outEmpty = mapper.readTree(validated(recEmpty))
    assert(outEmpty.get("createdDateTime").asText === "")
    assert(outEmpty.get("_lastModifiedDateTime")
      === mapper.readTree("""{"$date": "2019-12-14T15:01:02.000Z"}"""))

    val recNull =
      """{"_lastModifiedDateTime": "2019-12-14T15:01:02.000Z",
        | "createdDateTime": null, "_removedDateTime": null, "_archivedDateTime": null}""".stripMargin
    val outNull = mapper.readTree(validated(recNull))
    assert(outNull.get("createdDateTime").isNull)
    // NB: null _removedDateTime still counts as present → is_delete
    assert(UcJson.validate(recNull)._2 === true)
  }

  test("last-modified synthesized from epoch when missing (test_should_create_last_modified_if_missing)") {
    assert(validated("{}") === """{"_lastModifiedDateTime":{"$date":"1980-01-01T00:00:00.000Z"}}""")
  }

  test("last-modified priority: removed beats created") {
    val rec =
      """{"_removedDateTime": "2021-10-12T10:06:01.280+0000",
        | "createdDateTime": "2020-01-01T00:00:00.000+0000"}""".stripMargin
    assert(mapper.readTree(validated(rec)).get("_lastModifiedDateTime")
      === mapper.readTree("""{"$date": "2021-10-12T10:06:01.280Z"}"""))
  }

  test("last-modified priority: created used when others absent") {
    val rec = """{"createdDateTime": "2020-01-01T00:00:00.000+0000"}"""
    assert(mapper.readTree(validated(rec)).get("_lastModifiedDateTime")
      === mapper.readTree("""{"$date": "2020-01-01T00:00:00.000Z"}"""))
  }

  test("wrapped last-modified date is unwrapped for the priority read") {
    val rec = """{"_lastModifiedDateTime": {"$date": "2021-10-02T14:02:16.653+0000"}}"""
    assert(mapper.readTree(validated(rec)).get("_lastModifiedDateTime")
      === mapper.readTree("""{"$date": "2021-10-02T14:02:16.653Z"}"""))
  }

  // ---- tests.py TestDateHelper ----

  test("incoming → outgoing conversions (TestDateHelper)") {
    assert(UcJson.reformat("2019-12-14T15:01:02.000+0000") === "2019-12-14T15:01:02.000Z")
    assert(UcJson.reformat("2019-12-14T15:01:02.000Z") === "2019-12-14T15:01:02.000Z")
    assert(UcJson.reformat("2019-12-14T15:01:02.000+0100") === "2019-12-14T14:01:02.000Z")
    assert(UcJson.reformat("2019-12-14T15:01:02.000-0100") === "2019-12-14T16:01:02.000Z")
  }

  test("fraction digits: python %f accepts 1-6 digits, renders 3 (truncated)") {
    // these arrive via the priority read (lm values can have any %f width);
    // the wrap matcher itself only fires on exactly 3 digits
    assert(UcJson.reformat("2019-12-14T15:01:02.1+0000") === "2019-12-14T15:01:02.100Z")
    assert(UcJson.reformat("2019-12-14T15:01:02.123456+0000") === "2019-12-14T15:01:02.123Z")
    assert(!UcJson.isDateString("2019-12-14T15:01:02.1+0000"))
    assert(!UcJson.isDateString("2019-12-14T15:01:02.123456+0000"))
  }

  test("colon-form offsets parse for the priority read (python %z accepts +HH:MM)") {
    assert(UcJson.reformat("2019-12-14T15:01:02.000+01:00") === "2019-12-14T14:01:02.000Z")
  }

  test("date matcher: only Z or +offset forms count (data.py date_matcher)") {
    assert(UcJson.isDateString("2019-12-14T15:01:02.000Z"))
    assert(UcJson.isDateString("2019-12-14T15:01:02.000+0100"))
    assert(!UcJson.isDateString("2019-12-14T15:01:02.000-0100"))
    assert(!UcJson.isDateString("2019-12-14T15:01:02.000"))
    assert(!UcJson.isDateString("2019-12-14 15:01:02.000Z"))
  }

  // ---- tests.py TestUCMessageSanitise ----

  test("sanitise replace chain (test_should_remove_chars_in_all_collections)") {
    // a raw NUL char serializes as the 6-char escape sequence; sanitise
    // removes that escape sequence from the serialized string
    val rec = mapper.createObjectNode()
    rec.put("fieldA", "a$" + 0.toChar)
    rec.put("_archivedDateTime", "b")
    rec.put("_archived", "c")
    val out = canon(UcJson.sanitise(UcJson.serializeCompact(rec)))
    assert(out === canon("""{"fieldA": "ad_", "_removedDateTime": "b", "_removed": "c"}"""))
  }

  test("sanitise rewrites $date wrappers to d_date (docs/message-transformation)") {
    assert(UcJson.sanitise("""{"_lastModifiedDateTime":{"$date":"2019-12-14T15:01:02.000Z"}}""")
      === """{"_lastModifiedDateTime":{"d_date":"2019-12-14T15:01:02.000Z"}}""")
  }

  test("property: uc_sanitise is byte-equal to the four-replace chain it replaced") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{
      BoundReference, Expression, Literal, StringReplace, UnsafeProjection}
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    import org.scalacheck.{Gen, Prop, Test => Check}

    // the chain uc_sanitise used to build from Spark's replace(): the oracle
    def replaceChain(e: Expression): Expression = Seq(
      "$" -> "d_", "\\u0000" -> "",
      "_archivedDateTime" -> "_removedDateTime", "_archived" -> "_removed")
      .foldLeft(e) { case (acc, (from, to)) => StringReplace(acc, Literal(from), Literal(to)) }
    val in = BoundReference(0, StringType, nullable = true)
    val exprs = Seq(replaceChain(in), graft.functions.UcSanitise(in))
    val generated = UnsafeProjection.create(exprs)

    // fragments that overlap every pattern (and its prefixes), escapes
    // that are and are not the NUL escape, and multi-byte UTF-8
    val fragment = Gen.frequency(
      6 -> Gen.oneOf("$", "$$", "\\u0000", "\\u00000", "\\", "u0000", "\\u0001",
        "_archived", "_archivedDateTime", "_archivedDate", "DateTime", "_arch", "ived", "_",
        "\"$date\":", "{", "}", ":", ",", "\""),
      3 -> Gen.oneOf("é", "ç", "日本", "\u00ff", "\ud83d\ude00", " ", "a", "Z"),
      1 -> Gen.alphaNumStr)
    val record = Gen.oneOf(Gen.const(""), Gen.listOf(fragment).map(_.mkString))
    val prop = Prop.forAll(record) { s =>
      val row = InternalRow(UTF8String.fromString(s))
      val oracle = exprs.head.eval(row).asInstanceOf[UTF8String]
      val codegen = generated(row)
      // interpreted new, generated old, generated new
      val outputs = Seq(exprs(1).eval(row).asInstanceOf[UTF8String],
        codegen.getUTF8String(0), codegen.getUTF8String(1))
      Prop(outputs.forall(_.getBytes.sameElements(oracle.getBytes))) :|
        s"input ${s.map(c => f"\\u${c.toInt}%04x").mkString}"
    }
    val result = Check.check(Check.Parameters.default.withMinSuccessfulTests(2000), prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
    // SQL NULL stays NULL
    assert(exprs(1).eval(InternalRow(null)) === null)
  }

  test("collection-specific sanitise guard raises (data.py:167-177)") {
    // the guard the job runs: Ingest.process raises in the plan, on action
    val spark = SparkSpec.session
    import spark.implicits._
    def processed(db: String, collection: String) = graft.pipeline.Ingest.process(
      Seq((db, collection, "1", """{"_id":"1","field":"v"}""", ""))
        .toDF("db", "collection", "raw_id", "decrypted", "envelope_lm"))
    val guarded = processed("penalties-and-deductions", "sanction")
    val e = intercept[Exception] { guarded.select("val").collect() }
    assert(e.getMessage.contains(
      "Collection penalties-and-deductions:sanction requires specific sanitising"), e.getMessage)
    assert(processed("some", "collection").select("val").collect().length === 1)
  }

  // ---- id helpers (UCMessage.id, ingesters.py to_row) ----

  test("canonicalId: object ids render compact+sorted, scalars pass through") {
    assert(UcJson.canonicalId("""{"b": 1, "a": "x"}""") === """{"a":"x","b":1}""")
    assert(UcJson.canonicalId("PRIMITIVE") === "PRIMITIVE")
    assert(UcJson.canonicalId("1234") === "1234")
  }

  test("idPart: 2-char prefix of inner id") {
    assert(UcJson.idPart("""{"id": "abcdef"}""") === "ab")
    assert(UcJson.idPart("xyz") === "xy")
    assert(UcJson.idPart("a") === "a")
  }
}
