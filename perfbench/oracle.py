"""DuckDB oracles for the perfbench output checks.

- :func:`events_report_sql` is the registry's q06 oracle generalised to any
  spec width and property set: the expected 13-column report computed by
  DuckDB straight from ``catalog/`` and ``spec.csv``. The self-test
  uses it to cross-check the generator's own bookkeeping.
- :func:`compare_curation` checks the curation pass outputs against the
  registry's own DuckDB oracle SQL (``SparkEntry.oracleSql``) the same way
  the repo's oracle compare does: columns by name, rows sorted, exact.
"""
import glob
import json
import os

import duckdb

PROCESS_DATE = "2024-06-01"
EVENT_DATE = "2024-06-01"

def djes(c, p):
    return f"(CASE WHEN json_valid({c}) THEN json_extract_string({c}, {p}) END)"


def lit(s):
    return "'" + s.replace("'", "''") + "'"


def dnullif(e):
    return f"nullif({e}, '')"


def d_org(a):
    """Twin of the 7-way org-id precedence chain over row alias `a`."""
    return "coalesce(" + ", ".join(dnullif(djes(f"{a}.{c}", lit(p))) for c, p in [
        ("context", "$.traits.organisation_id"), ("traits", "$.organisation_id"),
        ("properties", "$.organisation_id"), ("traits", "$.ord_id"),
        ("properties", "$.meta_data.org_id"), ("properties", "$.org_id"),
        ("properties", "$.orgId")]) + ")"


def d_proj(a):
    """Twin of the 4-way project-id precedence chain over row alias `a`."""
    return "coalesce(" + ", ".join(dnullif(djes(f"{a}.{c}", lit(p))) for c, p in [
        ("context", "$.traits.project_id"), ("properties", "$.project_id"),
        ("properties", "$.meta_data.project_id"), ("traits", "$.project_id")]) + ")"


ORG_IDS = ["organisation_id", "ord_id", "org_id", "orgId"]
PROJ_IDS = ["project_id"]


def obs_keys_sql(rel):
    def keys(c):
        return f"(CASE WHEN json_valid({c}) THEN json_keys({c}) END)"

    def nested(c, p):
        return f"(CASE WHEN json_valid({c}) THEN json_keys(json_extract({c}, '{p}')) END)"
    return " UNION ALL ".join(f"SELECT channel, unnest({k}) AS key FROM {rel}" for k in [
        keys("context"), keys("traits"), keys("properties"),
        nested("context", "$.traits"), nested("properties", "$.meta_data")])


MERGED = ("CASE WHEN NOT coalesce(json_valid(properties), false) "
          "OR NOT coalesce(json_valid(context), false) THEN NULL "
          "ELSE list_distinct("
          "(CASE WHEN org_flag THEN ['org_id'] ELSE [] END) "
          "|| (CASE WHEN proj_flag THEN ['project_id'] ELSE [] END) "
          "|| list_distinct(json_keys(properties)) "
          "|| list_distinct(json_keys(context))) END")


def expected_report_sql(k):
    """q06 oracle over views `cat` and `spec` (spec cells prop_1..prop_k)."""
    cells = ", ".join(f"prop_{i + 1}" for i in range(k))
    path = "'$.' || p.prop_name"
    generic = (f"(CASE WHEN {djes('f.context', path)} IS NULL "
               f"THEN {djes('f.properties', path)} ELSE {djes('f.context', path)} END)")
    return f"""WITH
latest AS (
  SELECT channel, version FROM (
    SELECT channel, version, rank() OVER (PARTITION BY channel ORDER BY version DESC) AS r FROM spec)
  WHERE r = 1 GROUP BY channel, version),
spec_cur AS (SELECT s.* FROM spec s JOIN latest l ON s.channel = l.channel AND s.version = l.version),
cat_f AS (
  SELECT l.channel, l.version, c.*
  FROM cat c JOIN latest l
    ON c.client_name = l.channel AND {djes('c.context', "'$.app.version'")} = l.version),
spec_pairs AS (
  SELECT channel, version, event_name, p AS prop_name
  FROM (SELECT channel, version, event_name, unnest([{cells}]) AS p FROM spec_cur)
  WHERE p IS NOT NULL AND p <> '' AND p <> event_name AND p <> 'user_id'
    AND p <> channel AND p <> version AND p <> '{EVENT_DATE}'),
value_pairs AS (
  SELECT DISTINCT channel, event_name, prop_name FROM (
    SELECT channel, event_name, prop_name FROM spec_pairs
    UNION ALL SELECT DISTINCT channel, event_name, 'user_id' FROM spec_cur)),
obs AS (SELECT DISTINCT channel, key FROM ({obs_keys_sql('cat_f')})),
org_pat AS (SELECT channel, string_agg(key, '|' ORDER BY key) AS pat FROM obs
            WHERE key IN ({', '.join(map(lit, ORG_IDS))}) GROUP BY channel),
proj_pat AS (SELECT channel, string_agg(key, '|' ORDER BY key) AS pat FROM obs
             WHERE key IN ({', '.join(map(lit, PROJ_IDS))}) GROUP BY channel),
flagged AS (
  SELECT f.*,
    CASE WHEN o.pat IS NULL THEN false ELSE
      (regexp_matches(f.context, o.pat) OR regexp_matches(f.traits, o.pat) OR regexp_matches(f.properties, o.pat)) END AS org_flag,
    CASE WHEN p.pat IS NULL THEN false ELSE
      (regexp_matches(f.context, p.pat) OR regexp_matches(f.traits, p.pat) OR regexp_matches(f.properties, p.pat)) END AS proj_flag
  FROM cat_f f LEFT JOIN org_pat o ON f.channel = o.channel LEFT JOIN proj_pat p ON f.channel = p.channel),
merged AS (SELECT channel, event_name, {MERGED} AS mk FROM flagged),
key_counts AS (
  SELECT channel, event_name, k AS exploded_key, count(*) AS key_count
  FROM (SELECT channel, event_name, unnest(mk) AS k FROM merged) GROUP BY 1, 2, 3),
key_metrics AS (
  SELECT sp.channel, sp.event_name, sp.prop_name, kc.key_count AS keys_not_null_count
  FROM spec_pairs sp LEFT JOIN key_counts kc
    ON sp.channel = kc.channel AND sp.event_name = kc.event_name AND sp.prop_name = kc.exploded_key),
value_defined AS (
  SELECT f.channel, f.version, f.event_name, p.prop_name,
    CASE p.prop_name WHEN 'user_id' THEN f.user_id
      WHEN 'org_id' THEN {d_org('f')}
      WHEN 'project_id' THEN {d_proj('f')}
      ELSE {generic} END AS value
  FROM cat_f f JOIN value_pairs p ON f.channel = p.channel AND f.event_name = p.event_name),
value_metrics AS (
  SELECT channel, version, event_name, prop_name,
    count(*) AS total_records, count(value) AS value_not_null_count,
    count(*) - count(value) AS value_null_count
  FROM value_defined GROUP BY 1, 2, 3, 4)
SELECT vm.prop_name, vm.event_name, vm.value_null_count, vm.value_not_null_count,
  vm.value_null_count * 100 / vm.total_records AS value_null_count_percentage,
  coalesce(km.keys_not_null_count, 0) AS keys_not_null_count,
  vm.total_records,
  coalesce(vm.total_records - km.keys_not_null_count, 0) AS key_null_count,
  coalesce((vm.total_records - km.keys_not_null_count) * 100 / vm.total_records, 0) AS key_null_count_percentage,
  '{PROCESS_DATE}' AS release_date, vm.channel, vm.version, '{EVENT_DATE}' AS event_date
FROM value_metrics vm LEFT JOIN key_metrics km
  ON vm.channel = km.channel AND vm.event_name = km.event_name AND vm.prop_name = km.prop_name"""



def events_report(out_dir, k):
    """Rows of the expected report, sorted like gen.expected_report."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE VIEW cat AS SELECT * FROM read_parquet('{out_dir}/catalog/*.parquet')")
    con.execute(f"CREATE VIEW spec AS SELECT * FROM read_csv('{out_dir}/spec.csv', header = true, "
                "all_varchar = true)")
    rows = con.execute(expected_report_sql(k)).fetchall()
    con.close()
    rows.sort(key=lambda r: (r[10], r[11], r[1], r[0]))
    return [[float(x) if i in (4, 8) else x for i, x in enumerate(r)] for r in rows]


def compare_curation(out_dir, data_dir):
    """{query: None when its output equals its oracle, else why not}.

    Columns are matched by name, rows sorted on every column, and values
    compared exactly after casting the oracle frame to the output's dtypes.
    """
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    res = {}
    for q, sql in sorted(oracles.items()):
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{os.path.join(out_dir, q)}/*.parquet')").fetchdf()
            want = con.execute(sql).fetchdf()
            cols = sorted(got.columns)
            if cols != sorted(want.columns):
                res[q] = f"columns {cols} vs {sorted(want.columns)}"
                continue
            g = got[cols].sort_values(by=cols, ignore_index=True)
            w = want[cols].sort_values(by=cols, ignore_index=True)
            if len(g) != len(w):
                res[q] = f"{len(g)} rows, oracle {len(w)}"
                continue
            w = w.astype(g.dtypes.to_dict())
            res[q] = None if g.equals(w) else "values differ from the oracle"
        except Exception as e:  # a missing output or a failing oracle is a failed check
            res[q] = f"{type(e).__name__}: {e}"[:300]
    con.close()
    return res
