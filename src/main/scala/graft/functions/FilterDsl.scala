package graft.functions

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}

import scala.jdk.CollectionConverters._

/** S3Vectors metadata filter DSL → `Column` translator (SURVEY §2.2 P8).
  *
  * Mirrors the reference's JSON-filter-to-SQL translator
  * (src/storage/protocols/vector/adapter/pgvector/filter.ts:152-308):
  *   - operators `$eq $ne $gt $gte $lt $lte $in $nin $exists` plus `$and`/`$or`
  *   - scalar-or-array equality: `field = v OR array_contains(field, v)`
  *   - numeric comparisons guarded by value type (jsonb_typeof = 'number' in
  *     the reference → `try_cast` to double here: non-numeric fields collapse
  *     to NULL and the predicate is false)
  *   - `$ne`/`$nin` over arrays = NOT contains, and (matching the reference's
  *     SQL null semantics) a missing field never matches
  *
  * The metadata column is a JSON string; field access is `get_json_object`,
  * which stays inside whole-stage codegen. Implicit top-level maps mean
  * `{"a": 1, "b": 2}` ≡ `{"$and":[{"a":1},{"b":2}]}` and a bare scalar value
  * means `$eq` — same shorthand as the reference.
  *
  * Every numeric comparand is a [[DoubleParam]], not a literal, so filters
  * that differ only in their numbers share one generated class.
  */
object FilterDsl {

  private val mapper = new ObjectMapper()

  /** Parse a JSON filter document and translate it into a predicate over the
    * given JSON-string metadata column. */
  def filter(metadata: Column, filterJson: String): Column =
    filterWith(metadata, Map.empty, filterJson)

  /** Same DSL, but fields present in `extracted` resolve to the given
    * pre-extracted JSON-text columns instead of a per-reference
    * `get_json_object` full-document parse. The scale path: a caller that
    * filters AND projects several fields extracts them all in ONE
    * `json_tuple` pass (identical extraction semantics) and hands them here,
    * so each row's JSON is parsed once, not once per field reference. */
  def filterWith(metadata: Column, extracted: Map[String, Column],
                 filterJson: String): Column =
    translate(m = metadata, ex = extracted, node = mapper.readTree(filterJson))

  private def translate(m: Column, ex: Map[String, Column], node: JsonNode): Column = {
    require(node.isObject && !node.isEmpty,
      s"filter node must be a non-empty object: $node")
    val keys = node.fieldNames.asScala.toSeq
    val (logical, fields) = keys.partition(_.startsWith("$"))
    // reference filter.ts rejects mixing logical and field keys, and any
    // unknown $-prefixed key at field position (filter.test.ts:255-259)
    require(logical.isEmpty || fields.isEmpty,
      s"cannot mix logical operators with field keys: $keys")
    logical.foreach(k => require(k == "$and" || k == "$or", s"unknown operator $k"))
    val conds = node.fields.asScala.map { e =>
      (e.getKey, e.getValue) match {
        case (k @ ("$and" | "$or"), v) =>
          require(v.isArray && v.size > 0, s"$k requires a non-empty array")
          val parts = v.elements.asScala.map(translate(m, ex, _))
          if (k == "$and") parts.reduce(_ && _) else parts.reduce(_ || _)
        case (field, v) if v.isObject =>
          require(!v.isEmpty, s"empty operator object for field $field")
          v.fields.asScala.map { op => condition(m, ex, field, op.getKey, op.getValue) }
            .reduce(_ && _)
        case (field, v) => condition(m, ex, field, "$eq", v) // bare scalar = $eq
      }
    }
    conds.reduce(_ && _)
  }

  /** Field as JSON text (NULL when missing): the pre-extracted column when
    * provided, else a get_json_object parse. */
  private def fieldText(m: Column, ex: Map[String, Column], field: String): Column =
    ex.getOrElse(field, get_json_object(m, s"$$.$field"))

  private def number(v: JsonNode): Column = GraftSqlBridge.column(DoubleParam(v.asDouble))

  private def scalarLit(v: JsonNode): Column =
    if (v.isNumber) number(v) else if (v.isBoolean) lit(v.asBoolean.toString)
    else lit(v.asText)

  /** JSON-array parse of the field text, attempted only when the text CAN be
    * an array (leading '['): skips a per-row Jackson invocation for every
    * scalar field the array bridge probes. Texts failing the guard yield
    * NULL — exactly what from_json returns on them anyway. */
  private def asArray(f: Column, t: org.apache.spark.sql.types.DataType): Column =
    when(f.startsWith("["), from_json(f, ArrayType(t)))

  /** Scalar equality with the array-contains bridge (filter.ts:94-120). */
  private def eqExpr(m: Column, ex: Map[String, Column], field: String,
                     v: JsonNode): Column = {
    val f = fieldText(m, ex, field)
    val scalarEq =
      if (v.isNumber) f.try_cast(DoubleType) === number(v)
      else f === scalarLit(v)
    val arrEq =
      if (v.isNumber)
        array_contains(asArray(f, DoubleType), number(v))
      else
        array_contains(asArray(f, StringType), scalarLit(v))
    coalesce(scalarEq, lit(false)) || coalesce(arrEq, lit(false))
  }

  /** $in/$nin membership with the array-values bridge (filter.test.ts:145-155:
    * `->>f = ANY(vs) OR EXISTS(jsonb_array_elements(f) = ANY(vs))`). The
    * numeric branch tests membership against an array literal, which the
    * generated code holds by reference: `isin` would write each number
    * into the Java source and compile a class per request. */
  private def inExpr(f: Column, vs: Seq[JsonNode]): Column =
    if (vs.forall(_.isNumber)) {
      val nums = typedLit(vs.map(_.asDouble))
      val scalarIn = array_contains(nums, f.try_cast(DoubleType))
      val arrIn = arrays_overlap(asArray(f, DoubleType), nums)
      coalesce(scalarIn, lit(false)) || coalesce(arrIn, lit(false))
    } else {
      val scalarIn = f.isin(vs.map(_.asText): _*)
      val arrIn = arrays_overlap(asArray(f, StringType),
        typedLit(vs.map(_.asText)))
      coalesce(scalarIn, lit(false)) || coalesce(arrIn, lit(false))
    }

  private def requireFiniteNumber(op: String, v: JsonNode): Unit = {
    require(v.isNumber, s"$op requires a number, got $v")
    val d = v.asDouble
    require(!d.isNaN && !d.isInfinity, s"$op requires a finite number, got $v")
  }

  private def condition(m: Column, ex: Map[String, Column], field: String,
                        op: String, v: JsonNode): Column = {
    val f = fieldText(m, ex, field)
    def num = f.try_cast(DoubleType)
    if (v.isNumber) requireFiniteNumber(op, v)
    // numeric comparisons go through try_cast: non-numeric → NULL → filtered
    // out, same as the reference's jsonb_typeof = 'number' guard. Range ops
    // accept only numeric comparands (filter.test.ts:274-276).
    def cmp(c: Column => Column): Column = { requireFiniteNumber(op, v); c(num) }
    op match {
      case "$eq" => eqExpr(m, ex, field, v)
      case "$ne" => f.isNotNull && !eqExpr(m, ex, field, v)
      case "$gt" => cmp(_ > scalarLit(v))
      case "$gte" => cmp(_ >= scalarLit(v))
      case "$lt" => cmp(_ < scalarLit(v))
      case "$lte" => cmp(_ <= scalarLit(v))
      case "$exists" =>
        // key presence (jsonb_exists, filter.test.ts:157-168), not
        // non-null-ness: {"k": null} still exists
        require(v.isBoolean, s"$$exists requires a boolean, got $v")
        val present = array_contains(json_object_keys(m), field)
        if (v.asBoolean) coalesce(present, lit(false))
        else !coalesce(present, lit(false))
      case "$in" =>
        val vs = v.elements.asScala.toSeq
        require(v.isArray && vs.nonEmpty, s"$$in requires a non-empty array")
        inExpr(f, vs)
      case "$nin" =>
        val vs = v.elements.asScala.toSeq
        require(v.isArray && vs.nonEmpty, s"$$nin requires a non-empty array")
        f.isNotNull && !coalesce(inExpr(f, vs), lit(false))
      case other => throw new IllegalArgumentException(s"unknown operator $other")
    }
  }
}

/** A per-request double held by reference in the generated code.
  *
  * Spark writes a numeric literal into the generated Java source, so an
  * expression over a literal that changes per request compiles a new class
  * per request. This leaf reads the value from the generated class's
  * references array instead, and is not foldable, so Catalyst keeps it a
  * leaf and the source is the same for every value. Use it only where no
  * data-source pushdown needs a literal. */
case class DoubleParam(value: Double) extends LeafExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("param", java.lang.Double.valueOf(value))
    ExprCode.forNonNullValue(JavaCode.expression(s"$ref.doubleValue()", DoubleType))
  }
}
