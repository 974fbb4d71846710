package graft.functions

import java.time.format.{DateTimeFormatterBuilder, ResolverStyle}
import java.time.temporal.ChronoField
import java.time.{Instant, OffsetDateTime, ZoneOffset}
import java.util.regex.Pattern

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode, ArrayNode, TextNode}
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}

/** UC Kafka-message JSON normalization — the reference's
  * UCMessage.validate / sanitise / transform semantics
  * (reference: steps/data.py:98-273, spec: steps/tests.py) re-expressed as
  * pure string→string functions usable from codegen'd Catalyst expressions.
  *
  * Behavioral contract (byte-for-byte on the reference's unit-test cases):
  *  - date wrapping: any string matching
  *    `^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{3}((Z)|(\+\d{4}))$` is
  *    replaced by {"$date": "<UTC, millis, Z>"}; existing single-key
  *    {"$date": primitive-truthy} objects are re-formatted in place.
  *  - _lastModifiedDateTime is (re)set with priority lastModified >
  *    removed > created > 1980-01-01T00:00:00.000Z epoch.
  *  - _archivedDateTime dropped when _removedDateTime present.
  *  - primitive _id wrapped as {"$oid": str} (python str() semantics:
  *    booleans render True/False).
  *  - canonical output: compact separators, keys sorted, non-ASCII kept
  *    raw (python json.dumps(..., ensure_ascii=False, separators=(',',':'),
  *    sort_keys=True)).
  *
  * Known parity limitation: float literals in EXPONENT form ("1e9")
  * re-render as parsed BigDecimal text ("1E+9"), while python would
  * render repr(float) ("1000000000.0"). Plain decimal literals —
  * everything the reference's business records contain — round-trip
  * byte-exact; replicating python's shortest-round-trip float repr is
  * out of scope until a collection needs it.
  */
object UcJson {
  private val F = JsonNodeFactory.instance
  private val mapper = new ObjectMapper()
    .configure(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS, true)

  val Epoch = "1980-01-01T00:00:00.000Z"
  private val DateKey = "$date"

  // reference data.py:281 — note: only 'Z' or '+' offsets count as dates
  private val dateMatcher =
    Pattern.compile("""^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{3}((Z)|(\+\d{4}))$""")

  // python strptime "%Y-%m-%dT%H:%M:%S.%f%z": 1-6 fraction digits,
  // offset Z / +HHMM / +HH:MM (strict field ranges)
  private val incoming = {
    val base = new DateTimeFormatterBuilder()
      .parseCaseSensitive()
      .appendPattern("uuuu-MM-dd'T'HH:mm:ss")
      .appendFraction(ChronoField.MICRO_OF_SECOND, 1, 6, true)
    Seq(
      base.appendOffset("+HHmm", "Z"),
      new DateTimeFormatterBuilder()
        .parseCaseSensitive()
        .appendPattern("uuuu-MM-dd'T'HH:mm:ss")
        .appendFraction(ChronoField.MICRO_OF_SECOND, 1, 6, true)
        .appendOffset("+HH:mm", "Z"),
    ).map(_.toFormatter.withResolverStyle(ResolverStyle.STRICT))
  }

  def isDateString(s: String): Boolean = dateMatcher.matcher(s).matches()

  def parseIncoming(s: String): Instant = {
    // NB: no `return` inside the loop body — a non-local return throws
    // ControlThrowable, which a broad catch would swallow
    var result: Instant = null
    var err: Throwable = null
    val it = incoming.iterator
    while (result == null && it.hasNext) {
      try result = OffsetDateTime.parse(s, it.next()).toInstant
      catch { case e: java.time.format.DateTimeParseException => err = e }
    }
    if (result == null)
      throw new IllegalArgumentException(s"time data '$s' does not match UC format", err)
    result
  }

  /** UTC, milliseconds truncated (python renders 6 digits then drops 3), Z. */
  def toOutgoing(i: Instant): String = {
    val odt = i.atOffset(ZoneOffset.UTC)
    f"${odt.getYear}%04d-${odt.getMonthValue}%02d-${odt.getDayOfMonth}%02d" +
      f"T${odt.getHour}%02d:${odt.getMinute}%02d:${odt.getSecond}%02d" +
      f".${odt.getNano / 1000000}%03dZ"
  }

  def reformat(s: String): String = toOutgoing(parseIncoming(s))

  /** python truthiness for json primitives */
  private def truthyPrimitive(n: JsonNode): Boolean =
    (n.isTextual && n.asText.nonEmpty) ||
      (n.isNumber && n.decimalValue().signum() != 0) ||
      (n.isBoolean && n.asBoolean())

  private def isMongoDateObject(n: JsonNode): Boolean =
    n != null && n.isObject && n.size() == 1 && {
      val inner = n.get(DateKey)
      inner != null && truthyPrimitive(inner)
    }

  /** python str() of a json primitive */
  private def pyStr(n: JsonNode): String =
    if (n.isBoolean) { if (n.asBoolean()) "True" else "False" }
    else if (n.isTextual) n.asText()
    else n.asText() // numbers: decimal/int literal text

  private def processMongoDateObject(obj: ObjectNode): Unit =
    obj.set(DateKey, TextNode.valueOf(reformat(obj.get(DateKey).asText())))

  def processObject(obj: ObjectNode, includeLastModified: Boolean = true): Unit = {
    val names = obj.fieldNames().asScala.toVector
    names.foreach { key =>
      if (includeLastModified || key != "_lastModifiedDateTime")
        // explicit type arg: ObjectNode.set is generic and bare obj.set(...)
        // infers Nothing, which blows up with a runtime ClassCastException
        processElement(obj.get(key), v => { obj.set[JsonNode](key, v); () })
    }
  }

  private def processList(arr: ArrayNode): Unit = {
    var i = 0
    while (i < arr.size()) {
      val v = arr.get(i)
      val j = i
      // NB: reference's process_list (data.py:233-241) does NOT re-format
      // mongo $date objects inside arrays — it only recurses into dicts.
      if (v.isObject) processObject(v.asInstanceOf[ObjectNode])
      else if (v.isArray) processList(v.asInstanceOf[ArrayNode])
      else if (v.isTextual && isDateString(v.asText()))
        arr.set(j, wrapDate(v.asText()))
      i += 1
    }
  }

  private def wrapDate(s: String): ObjectNode = {
    val o = F.objectNode()
    o.set(DateKey, TextNode.valueOf(reformat(s)))
    o
  }

  private def processElement(v: JsonNode, replace: JsonNode => Unit): Unit =
    if (isMongoDateObject(v)) processMongoDateObject(v.asInstanceOf[ObjectNode])
    else if (v.isObject) processObject(v.asInstanceOf[ObjectNode])
    else if (v.isArray) processList(v.asInstanceOf[ArrayNode])
    else if (v.isTextual && isDateString(v.asText())) replace(wrapDate(v.asText()))

  /** `$.{key}` as a date-ish string, unwrapping {"$date": x} (data.py:200-211). */
  private def retrieveDateTimeElement(obj: ObjectNode, key: String): String = {
    val v = obj.get(key)
    if (v == null || v.isNull || !truthyNode(v)) return ""
    if (v.isObject) {
      val d = v.get(DateKey)
      if (d != null && truthyPrimitive(d)) pyStr(d) else ""
    } else pyStr(v)
  }

  /** python truthiness over any node */
  private def truthyNode(n: JsonNode): Boolean =
    if (n.isObject || n.isArray) n.size() > 0
    else if (n.isNull) false
    else truthyPrimitive(n)

  /** UCMessage.validate (data.py:123-148). Returns (normalizedJson, isDelete). */
  def validate(decrypted: String): (String, Boolean) = {
    val root = mapper.readTree(decrypted) match {
      case o: ObjectNode => o
      case other => throw new IllegalArgumentException(
        s"decrypted record is not a JSON object: ${other.getNodeType}")
    }
    val isDelete = root.has("_removedDateTime")

    val lm = retrieveDateTimeElement(root, "_lastModifiedDateTime")
    val removed = retrieveDateTimeElement(root, "_removedDateTime")
    val created = retrieveDateTimeElement(root, "createdDateTime")
    val prioritised =
      if (lm.nonEmpty) lm else if (removed.nonEmpty) removed
      else if (created.nonEmpty) created else Epoch
    root.set("_lastModifiedDateTime", wrapDate0(reformat(prioritised)))

    processObject(root)

    if (root.has("_archivedDateTime") && root.has("_removedDateTime"))
      root.remove("_archivedDateTime")

    val id = root.get("_id")
    if (id != null && (id.isTextual || id.isNumber || id.isBoolean)) {
      val oid = F.objectNode()
      oid.set("$oid", TextNode.valueOf(pyStr(id)))
      root.set("_id", oid)
    }

    (serializeCompact(root), isDelete)
  }

  private def wrapDate0(formatted: String): ObjectNode = {
    val o = F.objectNode()
    o.set(DateKey, TextNode.valueOf(formatted))
    o
  }

  /** UCMessage.transform for data:businessAudit (data.py:98-121):
    * enrich + unwrap the context element.
    * `lastModified` is $.message._lastModifiedDateTime from the envelope
    * ("" when absent / non-primitive).
    */
  def transformAudit(decrypted: String, lastModified: String): String = {
    val root = mapper.readTree(decrypted)
    val context = root.get("context")
    val auditType = root.get("auditType")
    if (auditType == null || !truthyNode(auditType) ||
        context == null || !truthyNode(context))
      throw new IllegalArgumentException(
        "Audit elements not found (`context` or `auditType`)")
    val ctx = context.asInstanceOf[ObjectNode]
    ctx.set("AUDIT_EVENT", auditType)
    ctx.set("TIME_STAMP", TextNode.valueOf(lastModified))
    ctx.set("TIME_STAMP_ORIG", TextNode.valueOf(lastModified))
    serializeCompact(ctx)
  }

  /** python json.dumps(..., ensure_ascii=False, separators=(',',':'),
    * sort_keys=True) over a reparsed tree.
    */
  def canonicalize(json: String): String =
    serializeCanonical(mapper.readTree(json))

  /** UCMessage.sanitise (data.py:150-161): dumb find/replace on the
    * serialized record. NB `\\u0000` is the 6-char escape sequence (the
    * serialized form of a NUL char), not the NUL char itself. The
    * `uc_sanitise` column ([[UcSanitise]]) calls this.
    */
  def sanitise(serialized: String): String =
    serialized
      .replace("$", "d_")
      .replace("\\u0000", "")
      .replace("_archivedDateTime", "_removedDateTime")
      .replace("_archived", "_removed")

  /** Collections the reference refuses to sanitise generically
    * (data.py:167-177 raises NotImplementedError). `Ingest.process`
    * raises on these rows in the plan, ahead of the generic sanitise.
    */
  val requiresSpecificSanitising: Set[(String, String)] = Set(
    ("penalties-and-deductions", "sanction"),
    ("core", "healthAndDisabilityDeclaration"),
    ("accepted-data", "healthAndDisabilityCircumstances"))

  /** UCMessage.id (data.py:72-77): primitive ids pass through, object ids
    * render compact+sorted. Input is the raw `$.message._id` as text
    * (already unquoted when scalar).
    */
  def canonicalId(idText: String): String = {
    val t = idText.trim
    if (t.startsWith("{") || t.startsWith("["))
      serializeCanonical(mapper.readTree(idText))
    else idText
  }

  /** CalculationParts partition prefix (reference ingesters.py:505-522):
    * 2-char prefix of the inner `id` for object ids, of the id itself
    * otherwise (reference assumes {"id": ...}; we totalize).
    */
  def idPart(idText: String): String = {
    val t = idText.trim
    val inner =
      if (t.startsWith("{")) {
        val n = mapper.readTree(idText).get("id")
        if (n != null && n.isTextual) n.asText() else idText
      } else idText
    inner.substring(0, math.min(2, inner.length))
  }

  // ---- serialization (python json.dumps parity) ----

  private def escapeTo(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case '\b' => sb.append("\\b")
        case '\f' => sb.append("\\f")
        case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }

  private def writeNode(sb: java.lang.StringBuilder, n: JsonNode, sortKeys: Boolean): Unit = {
    if (n.isObject) {
      sb.append('{')
      val names0 = n.fieldNames().asScala.toVector
      val names = if (sortKeys) names0.sorted else names0
      var first = true
      names.foreach { k =>
        if (!first) sb.append(',')
        first = false
        escapeTo(sb, k)
        sb.append(':')
        writeNode(sb, n.get(k), sortKeys)
      }
      sb.append('}')
    } else if (n.isArray) {
      sb.append('[')
      var first = true
      n.elements().asScala.foreach { v =>
        if (!first) sb.append(',')
        first = false
        writeNode(sb, v, sortKeys)
      }
      sb.append(']')
    } else if (n.isTextual) escapeTo(sb, n.asText())
    else if (n.isNull) sb.append("null")
    else if (n.isBoolean) sb.append(if (n.asBoolean()) "true" else "false")
    else sb.append(n.asText()) // numbers, literal as parsed
  }

  /** compact, insertion order (intermediate form fed to sanitise) */
  def serializeCompact(n: JsonNode): String = {
    val sb = new java.lang.StringBuilder()
    writeNode(sb, n, sortKeys = false)
    sb.toString
  }

  /** compact, sorted keys (final utf8_decrypted_record form) */
  def serializeCanonical(n: JsonNode): String = {
    val sb = new java.lang.StringBuilder()
    writeNode(sb, n, sortKeys = true)
    sb.toString
  }
}
