package graft.functions

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Compiled extraction plan for [[JsonShred]]: which top-level keys to
  * collect, which (depth ≤ 2) field values to capture, and which nested
  * objects' key lists to enumerate — all resolvable in ONE streaming pass.
  *
  * Output slot layout (struct field order): `keys` (if requested), then one
  * `f_<path with '.'→'__'>` string per field path, then one `nk_<field>`
  * array per nested-keys field.
  */
final class ShredSpec(
    val wantTopKeys: Boolean,
    val fieldPaths: Array[String],
    val nestedKeyFields: Array[String])
    extends Serializable {

  import ShredSpec._

  fieldPaths.foreach(p =>
    require(isFieldPath(p), s"json_shred field path not identifier-shaped: '$p'"))
  nestedKeyFields.foreach(p =>
    require(p.matches(NameRegex), s"json_shred nested-keys field not identifier-shaped: '$p'"))
  require(
    (fieldPaths.map(fieldSlotName) ++ nestedKeyFields.map(nestedSlotName)).distinct.length ==
      fieldPaths.length + nestedKeyFields.length,
    s"json_shred slot-name collision in ${fieldPaths.mkString(",")} / ${nestedKeyFields.mkString(",")}")

  val numSlots: Int =
    (if (wantTopKeys) 1 else 0) + fieldPaths.length + nestedKeyFields.length
  val keysSlot: Int = if (wantTopKeys) 0 else -1

  /** Per top-level field: what to do when the streaming parser reaches it. */
  final class TopAction {
    var captureSlot: Int = -1 // depth-1 value capture
    var nestedKeysSlot: Int = -1 // enumerate this object's keys
    var innerNames: Array[String] = Array.empty // depth-2 value captures
    var innerSlots: Array[Int] = Array.empty
    def hasInner: Boolean = innerNames.nonEmpty
    def innerSlot(name: String): Int = {
      var i = 0
      while (i < innerNames.length) {
        if (innerNames(i) == name) return innerSlots(i)
        i += 1
      }
      -1
    }
  }

  @transient private lazy val actions: java.util.HashMap[String, TopAction] = {
    val m = new java.util.HashMap[String, TopAction]()
    def actionFor(name: String): TopAction = {
      var a = m.get(name)
      if (a == null) { a = new TopAction; m.put(name, a) }
      a
    }
    val base = if (wantTopKeys) 1 else 0
    fieldPaths.zipWithIndex.foreach { case (p, i) =>
      val slot = base + i
      p.split('.') match {
        case Array(top) => actionFor(top).captureSlot = slot
        case Array(top, inner) =>
          val a = actionFor(top)
          a.innerNames = a.innerNames :+ inner
          a.innerSlots = a.innerSlots :+ slot
        case _ => throw new IllegalArgumentException(s"path depth > 2: $p")
      }
    }
    nestedKeyFields.zipWithIndex.foreach { case (f, i) =>
      actionFor(f).nestedKeysSlot = base + fieldPaths.length + i
    }
    m
  }

  def action(name: String): TopAction = actions.get(name)

  def schema: StructType = ShredSpec.schemaFor(wantTopKeys, fieldPaths, nestedKeyFields)
}

object ShredSpec {
  private val NameRegex = "[A-Za-z_][A-Za-z0-9_]*"
  private val PathRegex = s"$NameRegex(\\.$NameRegex)?"

  /** Whether `path` is a field path json_shred accepts: one identifier, or
    * two joined by a dot.
    */
  def isFieldPath(path: String): Boolean = path.matches(PathRegex)

  def fieldSlotName(path: String): String = "f_" + path.replace(".", "__")
  def nestedSlotName(field: String): String = "nk_" + field

  def schemaFor(
      wantTopKeys: Boolean,
      fieldPaths: Seq[String],
      nestedKeyFields: Seq[String]): StructType = {
    val keys =
      if (wantTopKeys) Seq(StructField("keys", ArrayType(StringType), nullable = true))
      else Nil
    StructType(
      keys ++
        fieldPaths.map(p => StructField(fieldSlotName(p), StringType, nullable = true)) ++
        nestedKeyFields.map(f =>
          StructField(nestedSlotName(f), ArrayType(StringType), nullable = true)))
  }
}

/** Single-pass evaluator shared by the interpreted and generated paths.
  * Static (object) methods so generated Java calls are monomorphic — no
  * shared virtual `Expression.eval` dispatch, which is what makes the
  * built-in `CodegenFallback` JSON expressions JIT-fragile when many
  * queries run in one JVM (BASELINE.md's megamorphic footnote).
  */
object JsonShredRuntime {

  private val factory = new JsonFactory()

  /** One streaming parse of `json`; returns the output struct, or null when
    * the payload is null / malformed / not a top-level object — exactly the
    * rows where `json_object_keys` and every `get_json_object` path would
    * all be null. (One documented deviation: a payload that turns malformed
    * MID-object nulls the whole struct, where `get_json_object` can succeed
    * on a field it found before the garbage; the DuckDB oracles' `json_valid`
    * guards have the struct's all-or-nothing semantics, and the fixtures pin
    * it.)
    */
  def shred(json: UTF8String, spec: ShredSpec): InternalRow = {
    if (json == null) return null
    try {
      val parser = factory.createParser(json.getBytes)
      try {
        if (parser.nextToken() != JsonToken.START_OBJECT) return null
        val out = new Array[Any](spec.numSlots)
        val seen = new Array[Boolean](spec.numSlots)
        val keys =
          if (spec.wantTopKeys) new java.util.ArrayList[AnyRef] else null
        var tok = parser.nextToken()
        while (tok == JsonToken.FIELD_NAME) {
          val name = parser.currentName()
          if (keys != null) keys.add(UTF8String.fromString(name))
          val vtok = parser.nextToken()
          val act = spec.action(name)
          if (act == null) skipValue(parser, vtok)
          else handleValue(parser, vtok, act, out, seen)
          tok = parser.nextToken()
        }
        if (tok != JsonToken.END_OBJECT) return null
        if (keys != null) out(spec.keysSlot) = new GenericArrayData(keys.toArray)
        new GenericInternalRow(out)
      } finally parser.close()
    } catch {
      case _: Exception => null
    }
  }

  private def skipValue(parser: JsonParser, vtok: JsonToken): Unit =
    if (vtok == JsonToken.START_OBJECT || vtok == JsonToken.START_ARRAY)
      parser.skipChildren()

  /** First occurrence wins (matching `get_json_object`'s streaming
    * first-match path evaluation); later duplicates are skipped.
    */
  private def set(out: Array[Any], seen: Array[Boolean], slot: Int, v: Any): Unit =
    if (!seen(slot)) { seen(slot) = true; out(slot) = v }

  private def handleValue(
      parser: JsonParser,
      vtok: JsonToken,
      act: ShredSpec#TopAction,
      out: Array[Any],
      seen: Array[Boolean]): Unit = {
    vtok match {
      case JsonToken.START_OBJECT =>
        if (act.nestedKeysSlot >= 0 || act.hasInner) {
          if (act.captureSlot >= 0) {
            // rare: raw capture AND descent — buffer, then re-scan the buffer
            val raw = captureRaw(parser)
            set(out, seen, act.captureSlot, UTF8String.fromString(raw))
            scanBufferedInner(raw, act, out, seen)
          } else scanInner(parser, act, out, seen)
        } else if (act.captureSlot >= 0) {
          set(out, seen, act.captureSlot, UTF8String.fromString(captureRaw(parser)))
        } else parser.skipChildren()
      case JsonToken.START_ARRAY =>
        if (act.captureSlot >= 0)
          set(out, seen, act.captureSlot, UTF8String.fromString(captureRaw(parser)))
        else parser.skipChildren()
        // a named path step never descends into an array; inner captures stay null
      case JsonToken.VALUE_NULL =>
        if (act.captureSlot >= 0) set(out, seen, act.captureSlot, null)
      case _ =>
        // scalar: token text, unquoted — `get_json_object`/`json_tuple` shape
        if (act.captureSlot >= 0)
          set(out, seen, act.captureSlot, UTF8String.fromString(parser.getText))
    }
  }

  /** Scan one nested object in-stream: collect its keys (if requested) and
    * any depth-2 field values. Parser is ON the START_OBJECT token; consumes
    * through the matching END_OBJECT.
    */
  private def scanInner(
      parser: JsonParser,
      act: ShredSpec#TopAction,
      out: Array[Any],
      seen: Array[Boolean]): Unit = {
    val innerKeys =
      if (act.nestedKeysSlot >= 0 && !seen(act.nestedKeysSlot))
        new java.util.ArrayList[AnyRef]
      else null
    var tok = parser.nextToken()
    while (tok == JsonToken.FIELD_NAME) {
      val n = parser.currentName()
      if (innerKeys != null) innerKeys.add(UTF8String.fromString(n))
      val v = parser.nextToken()
      val slot = act.innerSlot(n)
      if (slot >= 0) {
        v match {
          case JsonToken.START_OBJECT | JsonToken.START_ARRAY =>
            set(out, seen, slot, UTF8String.fromString(captureRaw(parser)))
          case JsonToken.VALUE_NULL => set(out, seen, slot, null)
          case _ => set(out, seen, slot, UTF8String.fromString(parser.getText))
        }
      } else skipValue(parser, v)
      tok = parser.nextToken()
    }
    if (innerKeys != null)
      set(out, seen, act.nestedKeysSlot, new GenericArrayData(innerKeys.toArray))
  }

  private def scanBufferedInner(
      raw: String,
      act: ShredSpec#TopAction,
      out: Array[Any],
      seen: Array[Boolean]): Unit = {
    val p = factory.createParser(raw)
    try {
      if (p.nextToken() == JsonToken.START_OBJECT) scanInner(p, act, out, seen)
    } finally p.close()
  }

  /** Re-serialize the current container compactly — byte-compatible with
    * `json_tuple`/`get_json_object`'s raw-JSON output for object/array
    * values (both also copy through a default-configured Jackson generator).
    */
  private def captureRaw(parser: JsonParser): String = {
    val sw = new java.io.StringWriter()
    val gen = factory.createGenerator(sw)
    try gen.copyCurrentStructure(parser)
    finally gen.close()
    sw.toString
  }
}

/** `json_shred(json, wantKeys, 'f1,a.b,…', 'nested1,…')` — shred a JSON
  * object string in ONE parse into a struct of: its top-level key list
  * (duplicates kept, document order — `json_object_keys` semantics), selected
  * scalar/raw field values at depth ≤ 2 (`get_json_object` semantics:
  * unquoted scalars, raw JSON for containers, null for missing/non-object
  * parents), and the key lists of selected nested objects
  * (`json_object_keys(get_json_object(j, '$.f'))` semantics).
  *
  * Replaces the reference's per-call parse fan-out — the 5-extractor key
  * sweep (`event_verify.py:51-61`) plus the 11-path completeness chains
  * (`event_verify.py:153-174`) re-parse each payload up to ~7× via built-in
  * `CodegenFallback` JSON expressions; this expression is a real codegen
  * expression (static runtime call inside whole-stage codegen), so one
  * payload = one parse and the JIT profile is per-query-class, not a shared
  * megamorphic interpreter site.
  *
  * The spec arguments must be foldable string/boolean literals; see
  * [[graft.GraftExtensions]] for the SQL registration.
  */
case class JsonShred(
    child: Expression,
    wantTopKeys: Boolean,
    fieldPaths: Seq[String],
    nestedKeyFields: Seq[String])
    extends UnaryExpression {

  @transient private lazy val spec =
    new ShredSpec(wantTopKeys, fieldPaths.toArray, nestedKeyFields.toArray)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"json_shred requires a string column, got ${other.simpleString}")
  }

  override def dataType: DataType =
    ShredSpec.schemaFor(wantTopKeys, fieldPaths, nestedKeyFields)

  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    JsonShredRuntime.shred(input.asInstanceOf[UTF8String], spec)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val specRef = ctx.addReferenceObj("shredSpec", spec, classOf[ShredSpec].getName)
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("shredRow")
      s"""
         |org.apache.spark.sql.catalyst.InternalRow $tmp =
         |  graft.functions.JsonShredRuntime.shred($c, $specRef);
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): JsonShred =
    copy(child = newChild)

  override def prettyName: String = "json_shred"
}
