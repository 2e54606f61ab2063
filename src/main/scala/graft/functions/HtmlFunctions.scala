package graft.functions

import graft.dom.ExtractResult
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SQL surface for the extraction kernel (SURVEY.md §4.3's deferred option,
  * now implemented): native Catalyst expressions so `spark.sql` users can
  * call the engine without the typed Dataset API:
  *
  *   SELECT html_main_text(html)  FROM pages   -- boilerplate-stripped text
  *   SELECT html_text(html)       FROM pages   -- full in-content text
  *   SELECT html_tag_count(html)  FROM pages   -- tag tokens seen
  *
  * Every function reads one row of [[HtmlFunctions.fields]]; the two
  * expression classes below are the only kernel calls. They are
  * CodegenFallback by design: the kernel is one large opaque function —
  * exactly the case Spark documents for fallback — and the rows around it
  * stay inside whole-stage codegen. The per-row sink allocation here is the
  * ergonomic path; the throughput path remains ExtractJob.extract's
  * mapPartitions with a partition-reused sink.
  */
abstract class HtmlKernelExpression extends UnaryExpression
    with CodegenFallback with Serializable {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires BINARY input, got ${child.dataType}")
  override def nullable: Boolean = true
  @transient protected lazy val sink = new graft.dom.ExtractSink
  protected def ex(input: Any): ExtractResult =
    graft.dom.Extractor.extractInto(input.asInstanceOf[Array[Byte]], sink)
}

/** A single html_* call: one kernel run, one field of [[HtmlFunctions.fields]]. */
case class HtmlField(child: Expression, field: Int) extends HtmlKernelExpression {
  @transient private lazy val f = HtmlFunctions.fields(field)
  override def dataType: DataType = f.dataType
  override protected def nullSafeEval(input: Any): Any = f.get(ex(input))
  override protected def withNewChildInternal(newChild: Expression): HtmlField = copy(child = newChild)
  override def prettyName: String = f.sqlName
}

/** One kernel run building a struct of the listed fields, in list order —
  * `html_extract_all(h)` (the first seven fields) and the fusion target of
  * [[CollapseHtmlKernelCalls]] (exactly the fields a projection reads).
  */
case class HtmlExtractAll(child: Expression, fields: Seq[Int]) extends HtmlKernelExpression {
  override lazy val dataType: DataType = StructType(fields.map { i =>
    val f = HtmlFunctions.fields(i)
    StructField(f.name, f.dataType, nullable = false)
  })
  @transient private lazy val getters = fields.map(HtmlFunctions.fields(_).get).toArray
  override protected def nullSafeEval(input: Any): Any = {
    val r = ex(input)
    new GenericInternalRow(getters.map(_(r)))
  }
  override protected def withNewChildInternal(newChild: Expression): HtmlExtractAll = copy(child = newChild)
  override def prettyName: String = "html_extract_all"
}

/** Optimizer rule: common-subexpression elimination for the OPAQUE kernel.
  * Catalyst's built-in subexpression elimination never fires for
  * CodegenFallback expressions, so a projection calling k html_* functions
  * on the same column parses every page k times. This rule rewrites any
  * Project carrying ≥2 kernel calls over one child into a two-level
  * Project: the inner level runs [[HtmlExtractAll]] once per page over
  * exactly the fields the calls read, the outer reads struct fields.
  * CollapseProject will not merge the levels back — the alias is non-cheap
  * and referenced multiple times, exactly its no-duplication guard.
  *
  * Injected via `GraftExtensions` (config path) or
  * `HtmlFunctions.registerRule` (live-session path, like `register`).
  */
object CollapseHtmlKernelCalls
    extends org.apache.spark.sql.catalyst.rules.Rule[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
  import org.apache.spark.sql.catalyst.expressions.{Alias, GetStructField, NamedExpression}

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case p @ Project(projectList, child) =>
      val calls = projectList.flatMap(_.collect { case k: HtmlField => k })
      // fuse only when one child expression feeds ≥2 kernel calls — a
      // single call is already one parse, and distinct children can't share
      val fusable = calls.groupBy(_.child.canonicalized).filter(_._2.size >= 2)
      if (fusable.isEmpty) p
      else {
        val fused = fusable.map { case (canon, ks) =>
          val fields = ks.map(_.field).distinct.sorted
          canon -> (fields, Alias(HtmlExtractAll(ks.head.child, fields), "_html_all")())
        }
        val newList = projectList.map(_.transform {
          case k: HtmlField if fused.contains(k.child.canonicalized) =>
            val (fields, alias) = fused(k.child.canonicalized)
            GetStructField(alias.toAttribute, fields.indexOf(k.field),
              Some(HtmlFunctions.fields(k.field).name))
        }.asInstanceOf[NamedExpression])
        Project(newList, Project(child.output ++ fused.values.map(_._2), child))
      }
  }
}

object HtmlFunctions {
  /** One kernel output: SQL function name, struct field name, Catalyst type
    * and the getter from the kernel's [[ExtractResult]].
    */
  final case class Field(sqlName: String, name: String, dataType: DataType, get: ExtractResult => Any)

  private def str(s: String): UTF8String = UTF8String.fromString(s)
  private def strs(xs: Seq[String]): GenericArrayData = new GenericArrayData(xs.map(str).toArray[Any])
  private val stringArray = ArrayType(StringType, containsNull = false)

  private val spanArrayType: DataType = ArrayType(StructType(Seq(
    StructField("start", IntegerType, nullable = false),
    StructField("end", IntegerType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("block", IntegerType, nullable = false),
    StructField("link", BooleanType, nullable = false),
    StructField("kept", BooleanType, nullable = false))), containsNull = false)

  /** Open Graph pairs as array<struct<prop,content>> — array, not map, so
    * repeated properties (multiple og:image) and document order survive.
    */
  private val ogArrayType: DataType = ArrayType(StructType(Seq(
    StructField("prop", StringType, nullable = false),
    StructField("content", StringType, nullable = false))), containsNull = false)

  /** The kernel's SQL outputs. The first seven, in this order, are
    * `html_extract_all`'s struct.
    */
  val fields: IndexedSeq[Field] = IndexedSeq(
    Field("html_main_text", "main_text", StringType, r => str(r.mainText)),
    Field("html_text", "full_text", StringType, r => str(r.text)),
    Field("html_title", "title", StringType, r => str(r.title)),
    Field("html_lang", "lang", StringType, r => str(r.declaredLang)),
    Field("html_tag_count", "tag_count", LongType, _.nTags),
    Field("html_links", "links", stringArray, r => strs(r.links)),
    Field("html_errors", "errors", stringArray, r => strs(r.errors)),
    Field("html_spans", "spans", spanArrayType, r => new GenericArrayData(r.spans.map(s =>
      InternalRow(s.start, s.end, str(s.path), s.block, s.link, s.kept)).toArray[Any])),
    Field("html_og", "og", ogArrayType, r => new GenericArrayData(r.ogProps.indices.map(i =>
      InternalRow(str(r.ogProps(i)), str(r.ogVals(i)))).toArray[Any])),
    // raw <script type="application/ld+json"> blocks in document order —
    // schema.org structured data, ready for get_json_object/from_json
    Field("html_jsonld", "json_ld", stringArray, r => strs(r.jsonLd)))

  private def function(name: String)(build: Expression => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo("graft.functions.HtmlFunctions", name),
      (args: Seq[Expression]) => build(args.head))

  /** Every html_* function: one per field, plus html_extract_all. */
  private[functions] val functions =
    fields.indices.map(i => function(fields(i).sqlName)(HtmlField(_, i))) :+
      function("html_extract_all")(HtmlExtractAll(_, 0 until 7))

  /** Imperative registration — works on any live session (no config needed). */
  def register(spark: SparkSession): Unit = functions.foreach { case (id, info, builder) =>
    spark.sessionState.functionRegistry.registerFunction(id, info, builder)
  }

  /** Live-session injection of the kernel-call fusion rule (idempotent). */
  def registerRule(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(CollapseHtmlKernelCalls))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ CollapseHtmlKernelCalls
}

/** Config-based registration: `spark.sql.extensions=graft.functions.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    HtmlFunctions.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => CollapseHtmlKernelCalls)
  }
}
