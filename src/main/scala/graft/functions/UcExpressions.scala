package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String

/** Codegen entry points (static, UTF8String-typed so defineCodeGen can
  * call them without boxing detours).
  */
object UcJsonCodegen {
  def validateRow(s: UTF8String): InternalRow = {
    val (json, isDelete) = UcJson.validate(s.toString)
    InternalRow(UTF8String.fromString(json), isDelete)
  }
  def transformAudit(s: UTF8String, lm: UTF8String): UTF8String =
    UTF8String.fromString(UcJson.transformAudit(s.toString, lm.toString))
  def sanitise(s: UTF8String): UTF8String =
    UTF8String.fromString(UcJson.sanitise(s.toString))
  def canonicalize(s: UTF8String): UTF8String =
    UTF8String.fromString(UcJson.canonicalize(s.toString))
  def canonicalId(s: UTF8String): UTF8String =
    UTF8String.fromString(UcJson.canonicalId(s.toString))
  def idPart(s: UTF8String): UTF8String =
    UTF8String.fromString(UcJson.idPart(s.toString))
}
