package graft

/** Invariants of the declared registry ([[SparkEntry.specs]]), where a
  * silent mistake costs the most: a dropped declaration loses its oracle
  * check with no failure, a duplicate name collapses in the name-keyed
  * views.
  */
class RegistrySpec extends SparkTestBase {

  test("every registered query has an oracle and every oracle has a query") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    val blank = SparkEntry.specs.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"queries with a blank oracle: $blank")
    intercept[IllegalArgumentException](QuerySpec("qx", (s, _) => s.emptyDataFrame, " \n"))
  }

  test("every declared scale contrast and its production twin are live registry entries") {
    // r13 VERDICT ask #6: the deliberate-contrast set used to live only in
    // names and scaladoc, so renaming a production twin (q16e's twin
    // changed name in r13) could orphan its contrast silently. This pins
    // each `contrastOf` to a live entry that is not the contrast itself
    // and is not a contrast in turn.
    val byName = SparkEntry.specs.map(s => s.name -> s).toMap
    for (s <- SparkEntry.specs; twin <- s.contrastOf) {
      assert(twin != s.name, s"${s.name} declares itself as its twin")
      assert(byName.contains(twin), s"${s.name} names production twin $twin, not registered")
      assert(byName(twin).contrastOf.isEmpty, s"production twin $twin is itself declared a contrast")
    }
  }

  test("no query name is shadowed across the three sub-registries") {
    val names = SparkEntry.specs.map(_.name)
    assert(names.distinct.size == names.size, s"duplicate names: ${names.diff(names.distinct)}")
    assert(names.size == 112, s"the registry declares ${names.size} queries, not 112")
  }

  test("driver smoke: entry() yields rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every registered query yields rows at sf0.001 — an oracle match on empty output proves nothing") {
    // The q77 lesson (round 13): its first version selected centroids via
    // a residue-0 stride class inside an id%10≠0 corpus — EMPTY — and the
    // DuckDB twin agreed on the empty answer, so the hash-match was green
    // with zero evidentiary value. The oracle gate verifies agreement,
    // not existence; existence is pinned here, once per registry entry,
    // at the cheapest scale.
    val dir = "/root/testdata/sf0.001"
    val empty = SparkEntry.queries.toSeq.sortBy(_._1).filter {
      case (_, fn) => fn(spark, dir).isEmpty
    }.map(_._1)
    assert(empty.isEmpty, s"queries with EMPTY results at sf0.001: $empty")
  }

  test("Bench stdout line fits the driver tail; full line has registry keys") {
    // build both lines exactly as Bench.main would, one fake median per query
    val results = SparkEntry.queries.keys.toSeq.sorted.map(_ -> 0.512345678)
    val samples = results.map { case (k, v) => k -> Seq(v) }.toMap
    val (compact, full) = Bench.benchJson(results, samples, Map.empty, "/sf")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // full line (BENCH_RESULT.json): exactly the registry's query keys
    locally {
      val root = mapper.readTree(full) // throws on malformed JSON
      assert(root.get("metric").asText == "total" && root.get("unit").asText == "sec")
      val keys = {
        val it = root.get("queries").fieldNames()
        val b = Set.newBuilder[String]; while (it.hasNext) b += it.next(); b.result()
      }
      assert(keys == SparkEntry.queries.keySet,
        s"bench line keys drifted from the registry: ${(keys diff SparkEntry.queries.keySet) ++ (SparkEntry.queries.keySet diff keys)}")
    }
    // compact line (stdout): parses, covers the whole registry via n, and
    // stays far inside the driver's 2000-char stdout tail even after sbt's
    // "[success] Total time ..." trailer (~80 chars) eats into it. This is
    // the guard that BENCH_r10's "parsed": null truncation can't recur as
    // the registry grows: the line is O(errors), not O(registry).
    locally {
      val root = mapper.readTree(compact)
      assert(root.get("metric").asText == "total" && root.get("unit").asText == "sec")
      assert(root.get("n").asInt == SparkEntry.queries.size)
      assert(root.get("failed").asInt == 0)
      assert(root.get("value").asDouble > 0)
      assert(compact.length < 600,
        s"compact stdout line grew to ${compact.length} chars — driver tail is 2000")
    }
    // error paths survive JSON escaping (quotes, newlines, control chars)
    // in both lines, and a many-failure run still fits inside the tail
    val errs = Map("q99" -> "boom \"quoted\"\nline2") ++
      results.take(10).map { case (k, _) => k -> ("x" * 200) }.toMap
    val (withErr, fullErr) = Bench.benchJson(results, samples, errs, "/sf")
    assert(mapper.readTree(withErr).get("errors").get("q99").asText.startsWith("boom"))
    assert(mapper.readTree(withErr).get("failed").asInt == errs.size)
    assert(mapper.readTree(fullErr).get("errors").get("q99").asText.startsWith("boom"))
    assert(withErr.length < 1900,
      s"compact line with ${errs.size} failures is ${withErr.length} chars — over the tail")
  }

  test("query selection: blank means the full registry, sorted; else name-substring match") {
    val all = SparkEntry.queries.keys.toSeq.sorted
    for (only <- Seq(None, Some(""), Some(" , ")))
      assert(SparkEntry.select(only).map(_.name) == all, s"only=$only")
    val picked = SparkEntry.select(Some("q05,q07")).map(_.name)
    assert(picked.nonEmpty)
    assert(picked == all.filter(n => n.contains("q05") || n.contains("q07")))
  }

  test("Bench.jstr output round-trips quotes, backslashes and control chars through a JSON parse") {
    val hostile = "a\"b\\c\td\re\u0001f\ng"
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Bench.jstr(hostile))
    assert(parsed.isTextual && parsed.asText == hostile)
  }

  test("every oracle references only relations the driver registers as views") {
    // the driver materializes each parquet table as a DuckDB view by name;
    // an oracle naming anything else fails only at driver time — catch the
    // obvious typos here
    val tables = Set("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val fromRe = "(?i)(?:FROM|JOIN)\\s+([a-z_][a-z0-9_]*)\\b".r
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      // CTE names, with or without an explicit column list: `x AS (` and
      // `x(a, b) AS (`
      val ctes = "(?i)([a-z_][a-z0-9_]*)\\s*(?:\\([^)]*\\))?\\s+AS\\s*\\(".r
        .findAllMatchIn(sql).map(_.group(1).toLowerCase).toSet
      // built-in TABLE FUNCTIONS, not views: q08 reads its spec CSV via
      // read_csv; q16g derives its plane count from `FROM range(...)`
      val tableFns = Set("read_csv", "range", "unnest")
      fromRe.findAllMatchIn(sql).map(_.group(1).toLowerCase)
        .filterNot(ctes).filterNot(tableFns).foreach { rel =>
          assert(tables.contains(rel),
            s"$name references unknown relation '$rel' (not a table or CTE)")
        }
    }
  }
}
