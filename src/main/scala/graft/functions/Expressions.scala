package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression, BinaryExpression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst Expressions over the static helpers in [[AesCtr]] and
  * [[UcJsonCodegen]]. All implement `doGenCode` as a single static call so
  * they stay inside whole-stage codegen (no UDF boxing / no
  * CodegenFallback) — the hot 100 TB decrypt+normalize path is one
  * generated loop over the scan.
  *
  * Reference semantics: steps/dks.py:125-134 (AES-CTR),
  * steps/data.py:63-273 (UCMessage validate/transform/sanitise/id).
  */

/** base64 ciphertext × base64 key × base64 iv → utf8 plaintext. */
case class AesCtrDecrypt(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "aes_ctr_decrypt"
  protected override def nullSafeEval(ct: Any, key: Any, iv: Any): Any =
    AesCtr.decryptB64(ct.asInstanceOf[UTF8String], key.asInstanceOf[UTF8String],
      iv.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, k, i) => s"graft.functions.AesCtr.decryptB64($c, $k, $i)")
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Resolved data keys, encrypted key → plaintext key. Its `toString`
  * names only the count, so no plan string can print a key.
  */
final class DataKeys(keys: Map[String, String]) extends Serializable {
  val table: java.util.HashMap[UTF8String, UTF8String] = {
    val m = new java.util.HashMap[UTF8String, UTF8String](keys.size * 2)
    keys.foreach { case (k, v) => m.put(UTF8String.fromString(k), UTF8String.fromString(v)) }
    m
  }
  override def toString: String = s"DataKeys(${table.size} keys)"
}

/** encrypted data key → its resolved plaintext key, null when the key
  * was not resolved: the per-executor key cache of the reference
  * (dks.py:96-116) as one hash lookup in generated code. The keys travel
  * as a reference object, not a literal, and the expression prints as
  * its child alone, so explain output, the UI and event logs never show
  * key material.
  */
case class DataKeyLookup(child: Expression, keys: DataKeys) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "data_key_lookup"
  override protected def stringArgs: Iterator[Any] = Iterator(child)
  protected override def nullSafeEval(input: Any): Any = keys.table.get(input)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val table = ctx.addReferenceObj("dataKeys", keys.table, "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = (UTF8String) $table.get($c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** utf8 plaintext × base64 key × base64 iv → base64 ciphertext (fixtures). */
case class AesCtrEncrypt(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "aes_ctr_encrypt"
  protected override def nullSafeEval(pt: Any, key: Any, iv: Any): Any =
    AesCtr.encryptB64(pt.asInstanceOf[UTF8String], key.asInstanceOf[UTF8String],
      iv.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (p, k, i) => s"graft.functions.AesCtr.encryptB64($p, $k, $i)")
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** UCMessage.validate (data.py:123-148): date/id wrapping + last-modified
  * priority → struct<json string, is_delete boolean>.
  */
case class UcValidate(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("json", StringType, nullable = false),
    StructField("is_delete", BooleanType, nullable = false)))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "uc_validate"
  protected override def nullSafeEval(input: Any): Any =
    UcJsonCodegen.validateRow(input.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.UcJsonCodegen.validateRow($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** UCMessage.transform for data:businessAudit (data.py:98-121). */
case class UcTransformAudit(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "uc_transform_audit"
  protected override def nullSafeEval(rec: Any, lm: Any): Any =
    UcJsonCodegen.transformAudit(rec.asInstanceOf[UTF8String], lm.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (r, l) => s"graft.functions.UcJsonCodegen.transformAudit($r, $l)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** UCMessage.sanitise (data.py:150-161): the [[UcJson.sanitise]]
  * find/replace chain in one call.
  */
case class UcSanitise(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "uc_sanitise"
  protected override def nullSafeEval(input: Any): Any =
    UcJsonCodegen.sanitise(input.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.UcJsonCodegen.sanitise($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** python json.dumps(..., sort_keys=True, separators=(',',':'),
  * ensure_ascii=False) parity re-serialization.
  */
case class JsonCanonicalize(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "json_canonicalize"
  protected override def nullSafeEval(input: Any): Any =
    UcJsonCodegen.canonicalize(input.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.UcJsonCodegen.canonicalize($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** UCMessage.id (data.py:72-77): scalar ids pass through; object ids
  * canonicalized compact+sorted.
  */
case class UcCanonicalId(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "uc_id"
  protected override def nullSafeEval(input: Any): Any =
    UcJsonCodegen.canonicalId(input.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.UcJsonCodegen.canonicalId($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 2-char partition prefix of the (inner) id (ingesters.py:505-522). */
case class UcIdPart(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "uc_id_part"
  protected override def nullSafeEval(input: Any): Any =
    UcJsonCodegen.idPart(input.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.UcJsonCodegen.idPart($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
