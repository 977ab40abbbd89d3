package graft.operators

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.ShredSpec

/** The event catalog's three JSON payloads (`context`, `traits`,
  * `properties`) parsed ONCE each per row into struct columns, with every
  * downstream extraction — the 5-way key sweep (`event_verify.py:51-61`),
  * the org/project coalesce chains (`event_verify.py:156-165`), the generic
  * context→properties fallback (`:166-174`), and the `$.app.version` filter
  * key (`:42-43`) — re-derived as cheap struct-field reads.
  *
  * Compare: the reference's expression set costs ~7 payload parses per row
  * for the key sweep plus ~15 for the completeness chains, all through
  * interpreter-bound built-ins. Here [[graft.functions.JsonShred]] runs 3
  * parses per row inside whole-stage codegen, and a pipeline that persists
  * the shredded frame parses each payload once for ALL downstream passes.
  *
  * Spec property names are open-ended, so not every name can have a shred
  * slot. [[genericProps]] is the one rule: a generic name gets a slot in
  * the context and properties shreds when json_shred's path rule accepts
  * it ([[ShredSpec.isFieldPath]]) and its slot name differs, ignoring case,
  * from every fixed slot of those shreds and from every earlier generic
  * slot. Every other name (`screen-name`, `a.b.c`, `orgId`, `app.version`,
  * …) reads [[Completeness.genericExpr]] over the raw payload strings, each
  * only where its shred struct is non-null — so a payload json_shred
  * rejects stays null for every property either way (its documented
  * all-or-nothing rule, [[graft.functions.JsonShredRuntime.shred]]).
  *
  * `CollapseProject` does not inline non-cheap expressions referenced more
  * than once, and subexpression elimination dedups equal shred calls within
  * a projection, so each shred is evaluated once per row.
  */
object PayloadShred {

  val CtxCol = "__ctx"
  val TrCol = "__tr"
  val PrCol = "__pr"

  /** Column-level `json_shred` call (requires [[graft.GraftExtensions]] on
    * the session, like `cosine_sim`).
    */
  def shred(payload: Column, topKeys: Boolean, fields: Seq[String], nested: Seq[String]): Column =
    call_function("json_shred", payload,
      lit(topKeys), lit(fields.mkString(",")), lit(nested.mkString(",")))

  private def f(struct: String, path: String): Column =
    col(struct).getField(ShredSpec.fieldSlotName(path))
  private def nk(struct: String, field: String): Column =
    col(struct).getField(ShredSpec.nestedSlotName(field))
  private def keysOf(struct: String): Column = col(struct).getField("keys")

  // fixed field slots of each shred, in struct order
  private val CtxChain = Seq("traits.organisation_id", "traits.project_id")
  private val TrFields = Seq("organisation_id", "ord_id", "project_id")
  private val PrFields = Seq("organisation_id", "org_id", "orgId", "project_id",
    "meta_data.org_id", "meta_data.project_id")

  /** Names with their own value expression; they never take a generic slot. */
  private val Special = Set("user_id", "org_id", "project_id")

  /** Adds [[CtxCol]]: context keys, `$.traits` nested keys, the
    * traits.organisation_id / traits.project_id chain slots, the generic
    * property fields, and (optionally) `$.app.version`.
    *
    * Split from [[withPayloadShreds]] so a version-filtering pipeline can
    * shred only `context` before the filter join and the other two payloads
    * after it — filtered-out rows never pay the traits/properties parse.
    */
  def withContextShred(
      df: DataFrame, genericProps: Seq[String], withVersion: Boolean): DataFrame = {
    val ctxFields = (if (withVersion) Seq("app.version") else Nil) ++ CtxChain ++ genericProps
    df.withColumn(CtxCol, shred(col("context"), topKeys = true, ctxFields, Seq("traits")))
  }

  /** Adds [[TrCol]] and [[PrCol]] (traits and properties shreds). */
  def withPayloadShreds(df: DataFrame, genericProps: Seq[String]): DataFrame =
    df.withColumn(TrCol, shred(col("traits"), topKeys = true, TrFields, Nil))
      .withColumn(PrCol,
        shred(col("properties"), topKeys = true, genericProps ++ PrFields, Seq("meta_data")))

  /** All three shreds in one go (non-version-filtering queries). */
  def withShreds(
      df: DataFrame,
      genericProps: Seq[String] = Nil,
      withVersion: Boolean = false): DataFrame =
    withPayloadShreds(withContextShred(df, genericProps, withVersion), genericProps)

  /** `$.app.version` (the reference's spec-version filter key). */
  def versionExpr: Column = f(CtxCol, "app.version")

  /** The reference's exact 5 key extractors (`event_verify.py:51-61`), as
    * struct reads — same output as [[JsonKeys.catalogKeyExtractors]].
    */
  def keyExtractors: Seq[Column] = Seq(
    keysOf(CtxCol),
    keysOf(TrCol),
    keysOf(PrCol),
    nk(CtxCol, "traits"),
    nk(PrCol, "meta_data"))

  /** Top-level key arrays for [[JsonKeys.mergedKeys]] (properties, context). */
  def propertiesKeys: Column = keysOf(PrCol)
  def contextKeys: Column = keysOf(CtxCol)

  private def nz(c: Column): Column = nullif(c, lit(""))

  /** Twin of [[Completeness.orgIdExpr]] over the shred structs: the 7-way
    * precedence chain (`event_verify.py:156-160`), empty-string-normalized.
    */
  def orgIdExpr: Column = coalesce(
    nz(f(CtxCol, "traits.organisation_id")),
    nz(f(TrCol, "organisation_id")),
    nz(f(PrCol, "organisation_id")),
    nz(f(TrCol, "ord_id")),
    nz(f(PrCol, "meta_data.org_id")),
    nz(f(PrCol, "org_id")),
    nz(f(PrCol, "orgId")))

  /** Twin of [[Completeness.projectIdExpr]] (`event_verify.py:161-165`). */
  def projectIdExpr: Column = coalesce(
    nz(f(CtxCol, "traits.project_id")),
    nz(f(PrCol, "project_id")),
    nz(f(PrCol, "meta_data.project_id")),
    nz(f(TrCol, "project_id")))

  /** Twin of [[Completeness.genericExpr]]: context wins unless NULL (an
    * empty string from context is kept — no nullif, parity-relevant). A
    * name on a shred slot reads the slot; any other name reads the raw
    * payloads whose shred struct is non-null.
    */
  private def genericExpr(prop: String, onSlot: Boolean): Column =
    if (onSlot) when(f(CtxCol, prop).isNull, f(PrCol, prop)).otherwise(f(CtxCol, prop))
    else Completeness.genericExpr(prop,
      when(col(CtxCol).isNotNull, col("context")),
      when(col(PrCol).isNotNull, col("properties")))

  /** Shred-struct twin of [[Completeness.withValueColumns]]: one extracted
    * column per property. `df` must carry the shreds built with
    * `genericProps(props)` (see [[withShreds]]) and the raw `context` and
    * `properties` columns.
    */
  def withValueColumns(df: DataFrame, props: Seq[String], keepCols: Seq[String]): DataFrame = {
    val slotted = genericProps(props).toSet
    df.select(keepCols.map(col) ++ props.map(p => valueExpr(p, slotted(p)).as(p)): _*)
  }

  private def valueExpr(prop: String, onSlot: Boolean): Column = prop match {
    case "user_id"    => col("user_id")
    case "org_id"     => orgIdExpr
    case "project_id" => projectIdExpr
    case p            => genericExpr(p, onSlot)
  }

  /** The names of `props` that take a generic shred slot (the rule in the
    * object doc), in order — the field list [[withShreds]] declares.
    */
  def genericProps(props: Seq[String]): Seq[String] = {
    def slot(path: String) = ShredSpec.fieldSlotName(path).toLowerCase(Locale.ROOT)
    val taken = scala.collection.mutable.Set(
      (("app.version" +: CtxChain) ++ PrFields).map(slot): _*)
    // `add` is false for a slot already taken: first generic name wins
    props.filter(p => !Special(p) && ShredSpec.isFieldPath(p) && taken.add(slot(p)))
  }
}
