package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, ExprId, Expression, ExtractValue, GetStructField, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{StructField, StructType}

/** Nested from_json schema pruning — the piece Catalyst's own
  * `OptimizeCsvJsonExprs` is missing.
  *
  * Spark prunes `from_json(x).field` to a single-field schema, but NOT
  * the nested chain `from_json(x).message.db` (one GetStructField
  * level only), so every envelope-metadata query was paying a full
  * parse of the dbObject payload — at 100 TB that is the whole
  * corpus's JSON work spent on bytes the query never reads (the
  * reference's envelopes carry the record body in message.dbObject,
  * ingesters.py's UCMessage; the metadata/bookkeeping queries touch
  * only db/collection/crypto fields).
  *
  * The rule matches the post-optimization shape
  * `Project(consumers, Project(..., Alias(chain(JsonToStructs), a)))`
  * — CollapseProject deliberately keeps the alias materialized because
  * it is multi-referenced and non-cheap — and, when EVERY use of `a`
  * in the consumer list is a GetStructField chain:
  *
  *  1. collects the union of consumed field PATHS (alias base path ++
  *     each access's relative path);
  *  2. prunes the JsonToStructs schema to that path trie (field order
  *     preserved; a bare use of any intermediate struct keeps its
  *     whole subtree — correctness never degrades to fire);
  *  3. rebuilds the alias and every consumer access by NAME via
  *     ExtractValue (ordinals shift under pruning; name resolution
  *     recomputes them), keeping all exprIds — above the outer
  *     Project the rewrite is invisible.
  *
  * Installed once, at session build time, through GraftExtensions
  * (operator-optimization batch; see `Graft.builder`). The batch runs
  * to fixed point; the rewrite converges because a pruned plan's
  * consumed paths equal its schema.
  */
object PruneJsonPaths extends Rule[LogicalPlan] {

  private def fieldName(g: GetStructField): String =
    g.name.getOrElse(
      g.child.dataType.asInstanceOf[StructType].fields(g.ordinal).name)

  /** Is this parse safe to prune? Catalyst's own OptimizeCsvJsonExprs
    * gates on `options.isEmpty` because pruning changes observable
    * behavior under non-default options: a FAILFAST parse that would
    * error on a malformed pruned-away field silently succeeds, and a
    * columnNameOfCorruptRecord field must never be pruned out of the
    * schema it reports into. Mirror that guard exactly — empty options
    * means PERMISSIVE mode and no corrupt-record capture, where
    * dropping unread fields is unobservable.
    */
  private def prunable(j: JsonToStructs): Boolean =
    j.options.isEmpty && j.schema.isInstanceOf[StructType]

  /** chain(JsonToStructs) → (the parse, field path applied to it). */
  private def decompose(e: Expression): Option[(JsonToStructs, Seq[String])] =
    e match {
      case j: JsonToStructs if prunable(j) => Some((j, Nil))
      case g: GetStructField =>
        decompose(g.child).map { case (j, p) => (j, p :+ fieldName(g)) }
      case _ => None
    }

  private def chaseTo(id: ExprId)(x: Expression): Option[Seq[String]] =
    x match {
      case a: AttributeReference if a.exprId == id => Some(Nil)
      case g: GetStructField => chaseTo(id)(g.child).map(_ :+ fieldName(g))
      case _ => None
    }

  /** Relative access paths of `id` across `es`; None if any use is not
    * a pure GetStructField chain (bare struct use — cannot prune).
    */
  private def accesses(es: Seq[Expression], id: ExprId)
      : Option[Seq[Seq[String]]] = {
    var bare = false
    val found = Seq.newBuilder[Seq[String]]
    def scan(x: Expression): Unit = x match {
      case g: GetStructField if chaseTo(id)(g).isDefined =>
        found += chaseTo(id)(g).get
      case a: AttributeReference if a.exprId == id => bare = true
      case other => other.children.foreach(scan)
    }
    es.foreach(scan)
    if (bare) None else Some(found.result())
  }

  /** Keep only fields on a consumed path; an empty tail (the path ends
    * here) keeps the field's whole subtree.
    */
  private def pruneStruct(st: StructType, paths: Seq[Seq[String]]): StructType = {
    val byHead = paths.filter(_.nonEmpty).groupBy(_.head)
    StructType(st.fields.flatMap { f =>
      byHead.get(f.name).map { ps =>
        val tails = ps.map(_.tail)
        if (tails.exists(_.isEmpty)) f
        else f.dataType match {
          case s: StructType => StructField(f.name, pruneStruct(s, tails),
            f.nullable, f.metadata)
          case _ => f
        }
      }
    })
  }

  private def extractPath(base: Expression, path: Seq[String]): Expression =
    path.foldLeft(base)((e, n) => ExtractValue(e, Literal(n), conf.resolver))

  override def apply(plan: LogicalPlan): LogicalPlan =
    pruneInlined(pruneAliased(plan))

  /** Single-use chains that CollapseProject inlined
    * (`from_json(x).message.db` directly inside one Project): each
    * occurrence owns its JsonToStructs instance, so pruning to exactly
    * the accessed path is unconditionally sound. Bottom-up, so an
    * inner link prunes first and the outer link then prunes deeper —
    * one pass reaches the leaf path.
    */
  private def pruneInlined(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case g: GetStructField if decompose(g).exists { case (j, path) =>
        pruneStruct(j.schema.asInstanceOf[StructType], Seq(path)) != j.schema
      } =>
        val (j, path) = decompose(g).get
        val pruned = pruneStruct(j.schema.asInstanceOf[StructType], Seq(path))
        extractPath(j.copy(schema = pruned), path)
    }

  /** Multi-use aliases that CollapseProject keeps materialized:
    * `Project(consumers, Project(..., Alias(chain(from_json), a)))` —
    * prune to the union of the consumers' access paths.
    */
  private def pruneAliased(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(outer, inner @ Project(innerList, _)) =>
      var changed = false
      var newOuter = outer
      val newInner = innerList.map {
        case al @ Alias(child, name) =>
          decompose(child) match {
            case Some((j, basePath)) =>
              accesses(newOuter, al.exprId) match {
                case Some(rels) if rels.nonEmpty =>
                  val full = rels.map(basePath ++ _)
                  val pruned = pruneStruct(j.schema.asInstanceOf[StructType], full)
                  if (pruned != j.schema) {
                    changed = true
                    val newJ = j.copy(schema = pruned)
                    val newChild = extractPath(newJ, basePath)
                    // keep the alias's identity intact: same exprId AND
                    // same qualifier/metadata/nullability — widening a
                    // non-null struct to nullable or dropping column
                    // metadata would perturb downstream schema checks
                    // even though values are unchanged
                    val newAttr = AttributeReference(name, newChild.dataType,
                      al.toAttribute.nullable, al.metadata)(
                      exprId = al.exprId, qualifier = al.qualifier)
                    newOuter = newOuter.map(_.transformUp {
                      case g: GetStructField
                          if chaseTo(al.exprId)(g).isDefined =>
                        extractPath(newAttr, chaseTo(al.exprId)(g).get)
                    }.asInstanceOf[NamedExpression])
                    Alias(newChild, name)(exprId = al.exprId,
                      qualifier = al.qualifier,
                      explicitMetadata = al.explicitMetadata)
                  } else al
                case _ => al
              }
            case None => al
          }
        case other => other
      }
      if (changed) Project(newOuter, Project(newInner, inner.child)) else p
  }
}
