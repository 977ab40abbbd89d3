package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators._

/** Job parameters (the reference hardcodes these at
  * `event_verify.py:18-19,48-49`).
  *
  * `orgIdentifiers` reproduces the reference list verbatim — including the
  * duplicated `org_id` (`event_verify.py:48`, SURVEY §2.11(2)); dedup
  * happens at the observed-key intersection.
  *
  * The payload version is not a parameter: both modes read the context
  * payload's `app.version` (`json_shred`'s fixed slot,
  * [[graft.operators.PayloadShred.versionExpr]], in [[EventsVerificationPipeline.run]]
  * and `$.app.version` in [[EventsVerificationPipeline.runParity]]).
  */
case class VerificationParams(
    processDate: String,
    eventDate: String,
    orgIdentifiers: Seq[String] =
      Seq("organisation_id", "ord_id", "org_id", "orgId", "org_id"),
    projectIdentifiers: Seq[String] = Seq("project_id"))

/** The reference's full events-verification job re-expressed Spark-first:
  * per (channel, event, property) data-quality metrics — key presence and
  * value completeness — over a JSON-payload event catalog, driven by a
  * human-maintained wide-matrix spec (SURVEY §3, `event_verify.py`).
  *
  * Two modes with identical output for every spec property name:
  *
  *  - [[run]] — the scalable single-plan mode: channel is a grouping/join
  *    column, so the catalog is scanned a fixed number of times regardless
  *    of channel × event count. The reference's O(channels × events) driver
  *    actions (SURVEY §3 "action census") collapse to 2 tiny metadata
  *    collects (spec rows + observed identifier keys) plus the output
  *    action.
  *  - [[runParity]] — the reference-shaped per-channel loop with per-event
  *    union-reduce (U2/U3 surface), kept for parity testing; its plan size
  *    grows with spec size, so it is NOT the 100 TB path.
  *
  * Both read keys and values through [[graft.operators.PayloadShred]], the
  * one extractor: a property name gets a shred slot or the shred's
  * `get_json_object` fallback by one rule ([[PayloadShred.genericProps]]),
  * whichever mode runs.
  */
object EventsVerificationPipeline {

  /** Ceiling on [[runParity]]'s per-channel plan branches — an order of
    * magnitude above any hand-maintained verification config (the
    * reference driver loops a literal channel list), while guaranteeing
    * the parity form's channels×events analysis cost stays bounded. More
    * channels than this is a signal the caller wants [[run]].
    */
  val MaxParityChannels = 32

  private val payloadCols = Seq(col("context"), col("traits"), col("properties"))

  /** Columns a property name may not collide with: the reference's
    * `withColumn(prop, ...)` would silently overwrite the payload column the
    * remaining extractions read from. We reject instead of reproducing that
    * corruption.
    */
  private val reservedProps = Set("context", "properties", "traits", "channel",
    "version", "event_name", "client_name", "extracted_version")

  /** Driver-side spec digestion, shared by the batch run and the
    * incremental maintainer ([[graft.streaming.StreamingReport]] re-derives
    * it per report without touching data).
    */
  private[graft] final case class SpecInfo(
      byChannel: Seq[((String, String), Seq[org.apache.spark.sql.Row])],
      keyPairs: Seq[SpecPair],
      valuePairs: Seq[SpecPair],
      allProps: Seq[String])

  /** Everything [[run]] derives from the catalog before the final tiny
    * joins: the persisted shredded catalog (caller unpersists), the
    * (channel, event, key) counts, the defined-pair long value frame, and
    * the observed identifier keys per channel. The two frames are exactly
    * the ALGEBRAIC state of the report — both are additive over disjoint
    * catalog slices, which is what makes the streaming maintainer's
    * append-partials design correct.
    */
  private[graft] final case class Prepared(
      cat: DataFrame,
      keyCounts: DataFrame,
      longDefined: DataFrame,
      info: SpecInfo,
      observed: Map[String, Seq[String]])

  private[graft] def parseSpec(spec: DataFrame, params: VerificationParams): SpecInfo = {
    // 1. W1 — latest spec version per channel; the spec is tiny
    //    human-maintained config, so collect it once (vs the reference's
    //    per-channel collect+first, event_verify.py:33-39).
    val specCur = VersionSelect.latestPerGroup(spec, "channel", "version")
    val specRows = specCur.collect().toSeq
    val byChannel = specRows
      .groupBy(r => (str(r, "channel"), str(r, "version")))
      .toSeq.sortBy(_._1)

    // 2. Driver-parsed pairs: key side keeps duplicates (reference appends,
    //    event_verify.py:111); value side dedups (column overwrite,
    //    :153-174) and adds the implicit user_id property (:145,190).
    val keyPairs = byChannel.flatMap { case ((ch, v), rows) =>
      SpecParse.pairs(rows, ch, v, params.eventDate)
    }
    val userIdPairs = byChannel.flatMap { case ((ch, v), rows) =>
      rows.map(r => SpecPair(ch, v, str(r, "event_name"), "user_id")).distinct
    }
    val valuePairs = (userIdPairs ++ keyPairs).distinct
    val allProps = ("user_id" +: keyPairs.map(_.propName)).distinct
    val bad = allProps.filter(reservedProps.contains)
    require(bad.isEmpty, s"property names collide with catalog columns: $bad")
    SpecInfo(byChannel, keyPairs, valuePairs, allProps)
  }

  def run(catalog: DataFrame, spec: DataFrame, params: VerificationParams): DataFrame = {
    val p = prepare(catalog, spec, params)
    // 9. J2/J3 + derived metrics + stamps + fill over the algebraic state.
    report(p.info, p.keyCounts,
      Completeness.metrics(p.longDefined, Seq("channel", "version", "event_name")), params)
  }

  /** Step 9, shared by [[run]] and [[graft.streaming.StreamingReport]]:
    * key metrics for the spec's key pairs (J2), joined with `valueM` on
    * (channel, event_name), then derived metrics, stamps and fill (J3).
    * `valueM` is by-name so it is built after the key side, the order
    * [[run]] has always planned in.
    */
  private[graft] def report(
      info: SpecInfo, keyCounts: DataFrame, valueM: => DataFrame,
      params: VerificationParams): DataFrame = {
    val keyM = Report.keyMetrics(
      SpecParse.pairsDf(keyCounts.sparkSession, info.keyPairs).drop("version"),
      keyCounts, Seq("channel", "event_name"))
    Report.assemble(valueM, keyM, Seq("channel", "event_name"),
      col("channel"), col("version"), params.processDate, params.eventDate)
  }

  /** Steps 3–8 of [[run]] — catalog-side derivation up to the additive
    * frames. `observedToDate` folds previously-observed identifier keys
    * into the rlike flag chain (the streaming maintainer's persisted key
    * state); the batch run passes none and behavior is unchanged.
    */
  private[graft] def prepare(
      catalog: DataFrame, spec: DataFrame, params: VerificationParams,
      observedToDate: Map[String, Seq[String]] = Map.empty): Prepared = {
    val spark = catalog.sparkSession
    val info = parseSpec(spec, params)
    val byChannel = info.byChannel
    val (valuePairs, allProps) = (info.valuePairs, info.allProps)

    // 3. Catalog filtered to (channel, current version) via broadcast join —
    //    P2/P3 semantics of event_verify.py:42-43 with channel carried as a
    //    column instead of a driver loop. Payloads go through the
    //    single-parse shred structs (PayloadShred): context is shredded
    //    BEFORE the version join (it carries the $.app.version filter key),
    //    traits/properties AFTER it, so filtered-out rows never pay those
    //    parses. Persisted (the reference's S6 cache, event_verify.py:24):
    //    three downstream passes (key discovery, key counts, value metrics)
    //    read the parsed structs — each payload is parsed once per row for
    //    the whole pipeline.
    //    The version term is null-safe (`<=>`) so the optimizer infers no
    //    `isnotnull(version)` filter, which would re-run json_shred(context)
    //    below the projection that defines the shred; a null spec version
    //    still matches no catalog row because its pair never enters
    //    `latestDf`.
    val generics = PayloadShred.genericProps(allProps)
    val latestDf = spark.createDataFrame(byChannel.map(_._1).filter(_._2 != null))
      .toDF("channel", "version")
    val cat = Stage.cache(PayloadShred.withPayloadShreds(
      PayloadShred.withContextShred(catalog, generics, withVersion = true)
        .join(broadcast(latestDf),
          col("client_name") === col("channel") &&
            PayloadShred.versionExpr <=> col("version")),
      generics))

    // 4. Observed identifier keys per channel (event_verify.py:51-66) —
    //    filtered to the identifier spellings INSIDE the plan, so the
    //    collect is provably bounded by |identifiers| × channels rows no
    //    matter how adversarial the payload key space is; the literal
    //    patterns keep the hot path on compiled-once regexes.
    val idSpellings = (params.orgIdentifiers ++ params.projectIdentifiers).distinct
    val obsBatch = JsonKeys.allKeysBy(cat, PayloadShred.keyExtractors, Seq("channel"),
        restrictTo = Some(idSpellings))
      .collect()
      .groupBy(_.getString(0))
      .view.mapValues(_.map(_.getString(1)).toSeq).toMap
    // fold in keys observed by earlier batches (empty for the batch run):
    // the rlike flags are the one NON-algebraic piece of the report — a
    // spelling first observed later could substring-match earlier rows —
    // so the maintainer carries the observed set forward and the
    // incremental ≡ batch guarantee is conditional on spelling-stable
    // channels (see StreamingReport scaladoc).
    val obs = (obsBatch.keySet ++ observedToDate.keySet).map { ch =>
      ch -> (obsBatch.getOrElse(ch, Nil) ++ observedToDate.getOrElse(ch, Nil))
        .distinct.sorted
    }.toMap
    def matching(ids: Seq[String])(ch: String): Seq[String] =
      obs.getOrElse(ch, Nil).filter(ids.contains).sorted

    // 5. P5/P6 flags — per-channel literal-pattern chain (codegen-friendly;
    //    empty key list → false, the guarded form of event_verify.py:67-76).
    def flagChain(sel: String => Seq[String]): Column =
      byChannel.foldLeft(lit(false)) { case (acc, ((ch, _), _)) =>
        when(col("channel") === ch, KeyPresence.anyKeyPresent(payloadCols, sel(ch)))
          .otherwise(acc)
      }
    val orgFlag = flagChain(matching(params.orgIdentifiers))
    val projFlag = flagChain(matching(params.projectIdentifiers))

    // 6. Merged per-row keys (null parity) → counts per
    //    (channel, event, key) — partial agg before the shuffle.
    val merged = JsonKeys.mergedKeys(
      orgFlag, projFlag,
      array_distinct(PayloadShred.propertiesKeys),
      array_distinct(PayloadShred.contextKeys))
    val keyCounts = cat
      .select(col("channel"), col("event_name"), explode(merged).as("exploded_key"))
      .groupBy("channel", "event_name", "exploded_key")
      .agg(count(lit(1)).as("key_count"))

    // 7/8. Value completeness: wide extraction reads the cached shred
    //    structs (ZERO additional payload parses) → stack unpivot →
    //    defined-pair filter; the counts over it and over the merged keys
    //    are the additive frames the caller aggregates (J2 lives in [[run]]).
    val wide = PayloadShred.withValueColumns(
      cat, allProps, Seq("channel", "version", "event_name"))
    val long = Completeness.unpivot(wide, allProps, Seq("channel", "version", "event_name"))
    val longDefined = long.join(
      broadcast(SpecParse.pairsDf(spark, valuePairs).drop("version")),
      Seq("channel", "event_name", "prop_name"))

    Prepared(cat, keyCounts, longDefined, info, obs)
  }

  /** Reference-shaped mode: driver loop per channel, per-event value frames
    * union-reduced (U2), per-channel results union-reduced (U3), window
    * rank + `first()` version pick. Output is identical to [[run]]; kept as
    * the parity surface and exercised against it in tests.
    *
    * BOUNDED BY CONTRACT, not a scale path: the per-channel driver loop
    * builds one plan branch per channel (two bounded collects + a
    * union-reduce each), so ANALYSIS cost grows with the channel count —
    * the shape inherited from the reference driver script, which loops a
    * hand-configured channel list. [[MaxParityChannels]] enforces that
    * assumption loudly: a spec with more distinct channels than any
    * hand-maintained verification config fails fast with a pointer to
    * [[run]], the single-plan form whose cost is channel-count-independent
    * (one shuffle keyed by channel — the production path at any scale).
    *
    * Cache ownership: the base catalog and each channel's long value frame
    * serve the channel loop AND the returned (lazy) union plan, so they are
    * caller-owned ([[Stage]]'s lifecycle rule).
    */
  def runParity(catalog: DataFrame, spec: DataFrame, params: VerificationParams): DataFrame = {
    val spark = catalog.sparkSession
    val channels = spec.select("channel").distinct().collect().map(_.get(0).toString).sorted
    require(channels.length <= MaxParityChannels,
      s"parity mode builds one plan branch per channel and is bounded at " +
        s"$MaxParityChannels channels (got ${channels.length}); use run() — " +
        "the single-plan form — for unbounded channel counts")

    // The reference repartitions and caches the catalog ONCE, before its
    // channel loop (event_verify.py:23-24); every per-channel action below
    // reads the cache instead of re-deriving the source. extracted_version
    // is channel-independent, so it rides in the cache too.
    val base = Stage.cache(catalog
      .withColumn("extracted_version", get_json_object(col("context"), "$.app.version")))
    val idSpellings = (params.orgIdentifiers ++ params.projectIdentifiers).distinct

    val perChannel = channels.map { ch =>
      val ranked = spec
        .filter(col("channel") === ch)
        .withColumn("rank",
          rank().over(Window.partitionBy("channel").orderBy(desc("version"))))
      val version = ranked.filter(col("rank") === 1).select("version").first().get(0).toString
      val specCur = ranked.filter(col("rank") === 1).drop("rank", "release_date")
      val specRows = specCur.collect().toSeq
      val pairs = SpecParse.pairs(specRows, ch, version, params.eventDate)
      val chProps = ("user_id" +: pairs.map(_.propName)).distinct

      // The channel's rows, shredded once with the channel's props: the
      // identifier keys, merged keys and values below are all struct reads.
      val cat = PayloadShred.withShreds(
        base.filter(col("client_name") === ch && col("extracted_version") === version),
        PayloadShred.genericProps(chProps))

      // One bounded collect per channel (the reference runs two, over the
      // UNRESTRICTED key space — same observable result, since only keys
      // matching the identifier spellings survive either way). No spellings
      // configured -> no collect and both flags are constant-false, exactly
      // what the unrestricted path yields for empty identifier lists.
      val obsIds =
        if (idSpellings.isEmpty) Seq.empty[String]
        else JsonKeys.allKeysBy(cat, PayloadShred.keyExtractors,
            Seq.empty, restrictTo = Some(idSpellings))
          .collect().map(_.getString(0)).toSeq
      def matching(ids: Seq[String]): Seq[String] = obsIds.filter(ids.contains).sorted
      val orgFlag = KeyPresence.anyKeyPresent(payloadCols, matching(params.orgIdentifiers))
      val projFlag = KeyPresence.anyKeyPresent(payloadCols, matching(params.projectIdentifiers))
      val merged = JsonKeys.mergedKeys(
        orgFlag, projFlag,
        array_distinct(PayloadShred.propertiesKeys),
        array_distinct(PayloadShred.contextKeys))
      val keyCounts = cat
        .select(col("event_name"), explode(merged).as("exploded_key"))
        .groupBy("exploded_key", "event_name")
        .agg(count(lit(1)).as("key_count"))
      val keyM = Report.keyMetrics(
        SpecParse.pairsDf(spark, pairs).drop("channel", "version"),
        keyCounts, Seq("event_name"))

      // U2 — one frame per event, unioned (the reference's dict + loop,
      // event_verify.py:133-214). The union-reduce SURFACE is the parity
      // contract; the extraction underneath is hoisted to ONE shared pass
      // per channel (r9 verdict: the per-event extract made this plan the
      // registry's least scale-safe — each event re-scanned the cache and
      // re-parsed its payloads). All of the channel's properties extract
      // from the shred structs, unpivot once, persist; each per-event frame
      // is then a (event_name, prop ∈ event's spec) carve-out of the shared
      // long frame — same rows, same values, |events|× less parse work, and
      // the per-event branches read cached data instead of re-deriving it.
      val eventNames = specRows.map(r => str(r, "event_name")).distinct
      val long = Stage.cache(Completeness.unpivot(
        PayloadShred.withValueColumns(cat, chProps, Seq("event_name")),
        chProps, Seq("event_name")))
      val frames = eventNames.map { e =>
        val evProps =
          ("user_id" +: pairs.filter(_.eventName == e).map(_.propName)).distinct
        Completeness.metrics(
          long.filter(col("event_name") === e &&
            col("prop_name").isin(evProps: _*)).drop("event_name"),
          Seq.empty).withColumn("event_name", lit(e))
      }
      val valueM = Report.unionAll(frames)

      Report.assemble(valueM, keyM, Seq("event_name"),
        lit(ch), lit(version), params.processDate, params.eventDate)
    }
    Report.unionAll(perChannel) // U3
  }

  private def str(r: org.apache.spark.sql.Row, field: String): String =
    Option(r.getAs[Any](field)).map(_.toString).orNull
}
