"""Seeded input generator for the perfbench workloads.

Writes, into one directory per (workload, seed):

- ``catalog/``: the JSON-payload event catalog the verification job reads
  (client_name, event_name, user_id, context, traits, properties; all
  strings), as parquet files; for stream_ingest ``batches/`` holds a
  smaller catalog of the same shape as equal micro-batches, one file each.
- ``spec.csv``: the human-maintained wide-matrix spec (channel, version,
  event_name, release_date, prop_1..prop_K).
- ``expected.json``: the expected 13-column report, computed from the
  generator's own bookkeeping of what it put in each payload; the engine
  never touches it (the self-test cross-checks it against a DuckDB twin of
  the q06 oracle, ``oracle.py``).
- ``documents.parquet`` and ``embeddings.parquet`` (not for stream_ingest): the
  curation tier's fixed corpus, shaped like the documents and embeddings
  test tables.
- ``meta.json``: sizes and quirk rates.

Payloads are drawn from per-channel pools of generated JSON objects, plus
quirk shapes at the rates in ``QUIRKS``: null, empty-string and malformed
payloads, every org-id and project-id spelling of the job's coalesce chains,
empty and null values, null user ids, rows on stale or unknown versions,
rows of a channel or event the spec does not list, and a key that
substring-collides with an identifier (``org_id_legacy``).

The same (workload, seed) gives byte-identical files.

Usage: python3 gen.py <workload> <seed> <out_dir>
"""
import json
import os
import random
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Catalog and spec sizes per workload. stream_ingest shares daily_report's
# spec and payload pools with three quarters of its rows. `pool` is the
# number of distinct payload objects per channel and payload column.
SIZES = {
    "daily_report": dict(rows=40_000, channels=4, versions=2, events=40,
                         props=12, prop_cols=6, filler=24, pool=4096),
    "tiny": dict(rows=3_000, channels=3, versions=2, events=6,
                 props=8, prop_cols=4, filler=6, pool=64),
}
SIZES["stream_ingest"] = dict(SIZES["daily_report"], rows=30_000)
STREAM_BATCHES = 8
CATALOG_FILES = 8
CURATION_DOCS = 1000

# Rates of the quirk shapes: per row (user id, version, channel, event), per
# payload column (null / empty / malformed payload, collision key) or per
# JSON value (empty, null).
QUIRKS = {
    "null_payload": 0.010,
    "empty_payload": 0.005,
    "malformed_payload": 0.005,
    "null_user_id": 0.030,
    "empty_value": 0.040,
    "null_value": 0.030,
    "stale_version": 0.200,
    "unknown_version": 0.020,
    "unlisted_channel": 0.020,
    "unlisted_event": 0.020,
    "collision_key": 0.030,
}

PROCESS_DATE = "2024-06-01"
EVENT_DATE = "2024-06-01"
ORG_IDS = ["organisation_id", "ord_id", "org_id", "orgId"]
PROJ_IDS = ["project_id"]
SPELLINGS = ORG_IDS + PROJ_IDS
CHANNEL_NAMES = ["web", "ios", "android", "backend", "pos", "kiosk", "tv",
                 "watch", "partner", "email", "sms", "crm"]
GENERIC_WORDS = ["plan", "country", "device", "sku", "amount", "currency",
                 "page", "referrer", "session", "campaign", "coupon", "tier",
                 "screen", "locale", "cart", "price", "variant", "source",
                 "medium", "step", "slot", "query", "rank", "latency"]
MALFORMED = ["not-json", "{\"truncated\": ", "oops", "{broken"]
REPORT_COLUMNS = ["prop_name", "event_name", "value_null_count", "value_not_null_count",
                  "value_null_count_percentage", "keys_not_null_count", "total_records",
                  "key_null_count", "key_null_count_percentage", "release_date", "channel",
                  "version", "event_date"]


def channels_for(n):
    return [CHANNEL_NAMES[i % len(CHANNEL_NAMES)] +
            ("" if i < len(CHANNEL_NAMES) else str(i // len(CHANNEL_NAMES)))
            for i in range(n)]


def generic_props(n):
    """n identifier-shaped property names containing no identifier spelling."""
    return [GENERIC_WORDS[i % len(GENERIC_WORDS)] +
            ("" if i < len(GENERIC_WORDS) else f"_{i // len(GENERIC_WORDS)}")
            for i in range(n)]


# ---- spec -------------------------------------------------------------------

def make_spec(rng, cfg):
    """Spec rows, per-(channel, version) event lists and per-channel props.

    Versions sort as strings ("3.1.0" < "3.2.0" < "3.3.0"), which is how both
    the engine and the oracle rank them. About 10% of rows carry a cell the
    job must drop (the channel name, "user_id", the event name, the version).
    """
    channels = channels_for(cfg["channels"])
    versions = [f"3.{i + 1}.0" for i in range(cfg["versions"])]
    generic = generic_props(cfg["props"] - 2)
    k = cfg["prop_cols"]
    event_pool = [f"evt_{i:04d}" for i in range(cfg["events"] + 8)]
    event_pool[3] = "checkout, retry"  # RFC-4180 quoting through the CSV
    width = min(len(generic), max(8, 3 * k))
    rows, events_of, props_of = [], {}, {}
    for ci, ch in enumerate(channels):
        # each channel uses its own window of the property pool, so a wide
        # spec has several hundred distinct props overall
        lo = (ci * len(generic)) // len(channels)
        ch_generic = [generic[(lo + j) % len(generic)] for j in range(width)]
        props_of[ch] = ch_generic
        ch_props = ["org_id", "project_id"] + ch_generic
        for vi, v in enumerate(versions):
            evs = sorted(rng.sample(event_pool, cfg["events"]))
            events_of[(ch, v)] = evs
            for e in evs:
                cells = rng.sample(ch_props, rng.randint(1, k))
                r = rng.random()
                if r < 0.10:
                    cells[-1] = [ch, "user_id", e, v][int(r / 0.025)]
                cells += [""] * (k - len(cells))
                rng.shuffle(cells)
                rows.append([ch, v, e, f"2024-0{1 + vi % 5}-1{ci % 10}"] + cells)
    return channels, versions, rows, events_of, props_of, event_pool


def csv_field(v):
    if any(c in v for c in ",\"\n\r"):
        return '"' + v.replace('"', '""') + '"'
    return v


def write_spec_csv(path, rows, k):
    header = ["channel", "version", "event_name", "release_date"] + \
        [f"prop_{i + 1}" for i in range(k)]
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write(",".join(header) + "\n")
        for r in rows:
            f.write(",".join(csv_field(x) for x in r) + "\n")


# ---- payload pools ----------------------------------------------------------

class Pool:
    """Payload texts of one column plus what the job can see in each.

    Entries 0..2 are the quirk payloads (null, empty string, malformed), the
    rest generated JSON objects. For each entry the pool records: whether it
    parses as an object, its top-level keys, the identifier spellings its
    key extractors see (top-level and the nested traits / meta_data keys),
    which generic props hold a non-null value, and whether its org-id and
    project-id chain slots hold a non-empty value.
    """

    def __init__(self):
        self.text, self.valid, self.keys, self.ext = [], [], [], []
        self.nonnull, self.org, self.proj = [], [], []
        for t in (None, "", None):
            self.add(t, False, (), (), (), False, False)

    def add(self, text, valid, keys, ext, nonnull, org, proj):
        self.text.append(text)
        self.valid.append(valid)
        self.keys.append(frozenset(keys))
        self.ext.append(frozenset(s for s in ext if s in SPELLINGS))
        self.nonnull.append(frozenset(nonnull))
        self.org.append(org)
        self.proj.append(proj)

    def add_object(self, fields, org_states, proj_states, nested=()):
        """fields: [(key, json_text, state)], state one of value / empty /
        null / object; org/proj states are those of this column's chain
        slots; nested lists the keys of nested objects the extractors see."""
        text = "{" + ", ".join(f'"{k}": {v}' for k, v, _ in fields) + "}"
        keys = [k for k, _, _ in fields]
        self.add(text, True, keys, keys + list(nested),
                 [k for k, _, s in fields if s in ("value", "empty")],
                 "value" in org_states, "value" in proj_states)

    def arrays(self, universe):
        n = len(self.text)
        col = {p: i for i, p in enumerate(universe)}

        def matrix(sets):
            m = np.zeros((n, len(universe)), bool)
            for row, keys in enumerate(sets):
                for key in keys:
                    if key in col:
                        m[row, col[key]] = True
            return {p: m[:, i] for p, i in col.items()}
        self.valid_a = np.array(self.valid)
        self.org_a = np.array(self.org)
        self.proj_a = np.array(self.proj)
        self.key_a = matrix(self.keys)
        self.nonnull_a = matrix(self.nonnull)
        self.ext_a = {s: np.fromiter((s in e for e in self.ext), bool, n) for s in SPELLINGS}
        self.sub_a = {s: np.fromiter((t is not None and s in t for t in self.text), bool, n)
                      for s in SPELLINGS}


def value(rng):
    """(json_text, state) of one random value."""
    r = rng.random()
    if r < QUIRKS["empty_value"]:
        return '""', "empty"
    if r < QUIRKS["empty_value"] + QUIRKS["null_value"]:
        return "null", "null"
    kind = rng.randrange(4)
    if kind == 0:
        return str(rng.randrange(10000)), "value"
    if kind == 1:
        return rng.choice(("true", "false")), "value"
    return f'"v{rng.randrange(500)}"', "value"


def build_pools(rng, cfg, channels, props_of):
    """Per channel `pool` entries of each payload column. A context entry is
    the object after its leading app member; the row's version is prefixed
    when the catalog is assembled."""
    fillers = [f"x_{i:02d}" for i in range(cfg["filler"])]
    ctx, tr, pr = Pool(), Pool(), Pool()
    base = {}
    for ch in channels:
        base[ch] = len(ctx.text)
        gen = props_of[ch]
        for _ in range(cfg["pool"]):
            fields, org, proj, nested = [], [], [], []
            if rng.random() < 0.3:
                inner = []
                if rng.random() < 0.7:
                    v, s = value(rng)
                    inner.append(("organisation_id", v))
                    org.append(s)
                if rng.random() < 0.5:
                    v, s = value(rng)
                    inner.append(("project_id", v))
                    proj.append(s)
                inner.append(("tier", value(rng)[0]))
                fields.append(("traits", "{" + ", ".join(f'"{k}": {v}' for k, v in inner) + "}",
                               "object"))
                nested += [k for k, _ in inner]
            for g in rng.sample(gen, rng.randint(0, 3)):
                fields.append((g,) + value(rng))
            for x in rng.sample(fillers, min(len(fillers), rng.randint(3, 6))):
                fields.append((x,) + value(rng))
            ctx.add_object(fields, org, proj, nested)
            ctx.text[-1] = ("" if not fields else ", ") + ctx.text[-1][1:]
            ctx.keys[-1] = ctx.keys[-1] | {"app"}

            fields, org, proj = [], [], []
            r = rng.random()
            if r < 0.45:
                v, s = value(rng)
                fields.append(("organisation_id" if r < 0.25 else "ord_id", v, s))
                org.append(s)
            if rng.random() < 0.2:
                v, s = value(rng)
                fields.append(("project_id", v, s))
                proj.append(s)
            for x in rng.sample(fillers, min(len(fillers), rng.randint(2, 5))):
                fields.append((x,) + value(rng))
            tr.add_object(fields, org, proj)

            fields, org, proj, nested = [], [], [], []
            for g in rng.sample(gen, min(len(gen), rng.randint(4, 12))):
                fields.append((g,) + value(rng))
            r = rng.random()
            if r < 0.32:
                v, s = value(rng)
                fields.append(("org_id" if r < 0.15 else "orgId" if r < 0.25
                               else "organisation_id", v, s))
                org.append(s)
            if rng.random() < 0.15:
                v, s = value(rng)
                fields.append(("project_id", v, s))
                proj.append(s)
            if rng.random() < 0.12:
                v, s = value(rng)
                meta = [f'"org_id": {v}']
                nested.append("org_id")
                org.append(s)
                if rng.random() < 0.5:
                    v, s = value(rng)
                    meta.append(f'"project_id": {v}')
                    nested.append("project_id")
                    proj.append(s)
                fields.append(("meta_data", "{" + ", ".join(meta) + "}", "object"))
            if rng.random() < QUIRKS["collision_key"]:
                fields.append(("org_id_legacy", '"zz"', "value"))
            for x in rng.sample(fillers, min(len(fillers), rng.randint(3, 8))):
                fields.append((x,) + value(rng))
            pr.add_object(fields, org, proj, nested)
    for p in (ctx, tr, pr):
        p.text[2] = MALFORMED[rng.randrange(len(MALFORMED))]
    return ctx, tr, pr, base


# ---- catalog ----------------------------------------------------------------

def draw_payload(nrng, n, row_base, pool_size):
    """Per-row pool index: a quirk entry at the quirk rates, else a uniform
    pick from the row's channel pool."""
    idx = row_base + nrng.integers(0, pool_size, n)
    r = nrng.random(n)
    q0 = QUIRKS["null_payload"]
    q1 = q0 + QUIRKS["empty_payload"]
    q2 = q1 + QUIRKS["malformed_payload"]
    idx[r < q2] = 2
    idx[r < q1] = 1
    idx[r < q0] = 0
    return idx


def make_catalog(nrng, cfg, channels, versions, events_of, event_pool, pools):
    ctx, tr, pr, base = pools
    n = cfg["rows"]
    nch = len(channels)
    # channel index nch is the unlisted "legacy" channel (drawing from the
    # first channel's payload pool)
    ch_idx = nrng.integers(0, nch, n)
    ch_idx[nrng.random(n) < QUIRKS["unlisted_channel"]] = nch
    r = nrng.random(n)
    ver_idx = np.full(n, len(versions) - 1)
    stale = r < QUIRKS["unknown_version"] + QUIRKS["stale_version"]
    ver_idx[stale] = nrng.integers(0, max(1, len(versions) - 1), int(stale.sum()))
    ver_idx[r < QUIRKS["unknown_version"]] = len(versions)  # "9.9.9"
    ver_idx[ch_idx == nch] = len(versions) - 1
    ev_names = np.empty(n, dtype=object)
    pick = nrng.random(n)
    for c in range(nch + 1):
        for v in range(len(versions) + 1):
            m = (ch_idx == c) & (ver_idx == v)
            if m.any():
                evs = events_of.get((channels[c], versions[v]), event_pool) \
                    if c < nch and v < len(versions) else event_pool
                ev_names[m] = np.array(evs, dtype=object)[(pick[m] * len(evs)).astype(int)]
    unlisted = nrng.random(n) < QUIRKS["unlisted_event"]
    ev_names[unlisted] = np.array(event_pool, dtype=object)[
        nrng.integers(0, len(event_pool), int(unlisted.sum()))]

    row_base = np.array([base[c] for c in channels] + [base[channels[0]]])[ch_idx]
    c_i = draw_payload(nrng, n, row_base, cfg["pool"])
    t_i = draw_payload(nrng, n, row_base, cfg["pool"])
    p_i = draw_payload(nrng, n, row_base, cfg["pool"])
    user_null = nrng.random(n) < QUIRKS["null_user_id"]
    users = nrng.integers(1, 50_001, n).astype(str).astype(object)
    users[user_null] = None

    ctx_col = np.array(ctx.text, dtype=object)[c_i]
    ok = np.array(ctx.valid)[c_i]
    all_versions = np.array(versions + ["9.9.9"], dtype=object)
    ctx_col[ok] = '{"app": {"version": "' + all_versions[ver_idx[ok]] + '"}' + ctx_col[ok]
    s = pa.string()
    table = pa.table({
        "client_name": pa.array(np.array(channels + ["legacy"], dtype=object)[ch_idx], s),
        "event_name": pa.array(ev_names, s),
        "user_id": pa.array(users, s),
        "context": pa.array(ctx_col, s),
        "traits": pa.array(np.array(tr.text, dtype=object)[t_i], s),
        "properties": pa.array(np.array(pr.text, dtype=object)[p_i], s)})
    rows = dict(ch=ch_idx, ver=ver_idx, ev=ev_names, c=c_i, t=t_i, p=p_i, user_null=user_null)
    return table, rows


# ---- expected report from the bookkeeping ------------------------------------

def expected_report(cfg, channels, versions, spec_rows, pools, rows, limit=None):
    """The 13-column report the job must produce over the first `limit`
    catalog rows (all by default), derived from what the generator put in
    each payload, with the semantics of the q06 oracle."""
    ctx, tr, pr, _ = pools
    k = cfg["prop_cols"]
    key_pairs, value_pairs = [], set()
    for r in spec_rows:
        ch, v, e = r[0], r[1], r[2]
        if v != versions[-1]:
            continue
        value_pairs.add((ch, e, "user_id"))
        for p in r[4:4 + k]:
            if p and p not in (e, "user_id", ch, v, EVENT_DATE):
                key_pairs.append((ch, e, p))
                value_pairs.add((ch, e, p))
    universe = sorted({p for _, _, p in value_pairs} | set(SPELLINGS))
    for pool in (ctx, tr, pr):
        if not hasattr(pool, "key_a"):
            pool.arrays(universe)

    # rows kept by the version filter: listed channel, latest version, and a
    # context that parses (a malformed context has no version)
    keep = (rows["ch"] < len(channels)) & (rows["ver"] == len(versions) - 1) & \
        ctx.valid_a[rows["c"]] & (np.arange(len(rows["ch"])) < (limit or len(rows["ch"])))
    ch, ev = rows["ch"][keep], rows["ev"][keep]
    c, t, p = rows["c"][keep], rows["t"][keep], rows["p"][keep]
    user_nn = ~rows["user_null"][keep]

    def flag(ids):
        """Identifier spellings observed in a channel's kept rows become an
        unanchored pattern matched against the raw payload texts."""
        out = np.zeros(len(ch), bool)
        for ci in range(len(channels)):
            m = ch == ci
            for s in ids:
                if (ctx.ext_a[s][c[m]] | tr.ext_a[s][t[m]] | pr.ext_a[s][p[m]]).any():
                    out[m] |= ctx.sub_a[s][c[m]] | tr.sub_a[s][t[m]] | pr.sub_a[s][p[m]]
        return out
    org_flag, proj_flag = flag(ORG_IDS), flag(PROJ_IDS)
    # a null or malformed properties/context payload nulls the row's key set
    merged_ok = ctx.valid_a[c] & pr.valid_a[p]

    groups = {}
    order = np.lexsort((ev, ch))
    ch_s, ev_s = ch[order], ev[order]
    cuts = np.flatnonzero((ch_s[1:] != ch_s[:-1]) | (ev_s[1:] != ev_s[:-1])) + 1
    for lo, hi in zip(np.r_[0, cuts], np.r_[cuts, len(order)]):
        if hi > lo:
            groups[(channels[ch_s[lo]], ev_s[lo])] = order[lo:hi]

    def key_count(prop, idx):
        m = pr.key_a[prop][p[idx]] | ctx.key_a[prop][c[idx]]
        if prop == "org_id":
            m = m | org_flag[idx]
        if prop == "project_id":
            m = m | proj_flag[idx]
        return int((m & merged_ok[idx]).sum())

    def not_null(prop, idx):
        if prop == "user_id":
            m = user_nn[idx]
        elif prop == "org_id":
            m = ctx.org_a[c[idx]] | tr.org_a[t[idx]] | pr.org_a[p[idx]]
        elif prop == "project_id":
            m = ctx.proj_a[c[idx]] | tr.proj_a[t[idx]] | pr.proj_a[p[idx]]
        else:
            # context value wins unless null; an empty string counts as a value
            m = ctx.nonnull_a[prop][c[idx]] | pr.nonnull_a[prop][p[idx]]
        return int(m.sum())

    keys_nn = {}
    for (chn, e, prop) in key_pairs:
        idx = groups.get((chn, e))
        cnt = key_count(prop, idx) if idx is not None else 0
        keys_nn[(chn, e, prop)] = cnt if cnt > 0 else None
    out = []
    for (chn, e, prop) in sorted(value_pairs):
        idx = groups.get((chn, e))
        if idx is None:
            continue
        total = len(idx)
        nn = not_null(prop, idx)
        knn = keys_nn.get((chn, e, prop))
        kn = 0 if knn is None else total - knn
        out.append([prop, e, total - nn, nn, (total - nn) * 100 / total, knn or 0, total, kn,
                    kn * 100 / total if knn is not None else 0.0, PROCESS_DATE, chn,
                    versions[-1], EVENT_DATE])
    out.sort(key=lambda r: (r[10], r[11], r[1], r[0]))
    return out


# ---- curation corpus --------------------------------------------------------

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream", "value",
         "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
         "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query",
         "a", "scan", "batch"]
LANGS = [("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14)]


def make_documents(rng, n=5000):
    """Random-word documents over a 30-word vocabulary; 5% end in `dup`,
    half of those copying an earlier document verbatim."""
    texts, langs = [], []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            t = texts[rng.randrange(i)] if rng.random() < 0.5 else \
                " ".join(rng.choice(VOCAB) for _ in range(rng.randint(8, 95)))
            t = t if t.endswith(" dup") else t + " dup"
        else:
            t = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(8, 95)))
        r = rng.random()
        lang = LANGS[-1][0]
        for name, share in LANGS:
            if r < share:
                lang = name
                break
            r -= share
        texts.append(t)
        langs.append(lang)
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()), "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def make_embeddings(nrng, n=2000, dim=64):
    """Unit vectors with a label, shaped like the embeddings test table."""
    v = nrng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(nrng.integers(0, 10, n).astype(np.int32), pa.int32())})


def write_parts(table, out_dir, parts):
    """`table` as `parts` equal row slices, one parquet file each."""
    os.makedirs(out_dir, exist_ok=True)
    step = table.num_rows // parts
    for b in range(parts):
        pq.write_table(table.slice(b * step, step if b < parts - 1 else None),
                       os.path.join(out_dir, f"part-{b:03d}.parquet"), compression="snappy")


def generate(workload, seed, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    meta = {"workload": workload, "seed": seed}
    if workload in ("daily_report", "tiny"):
        # the curation tier's fixed corpus, whatever the seed
        docs = make_documents(random.Random(42), CURATION_DOCS)
        pq.write_table(docs, os.path.join(out_dir, "documents.parquet"), compression="snappy")
        emb = make_embeddings(np.random.default_rng(42))
        pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"), compression="snappy")
        meta.update(documents=docs.num_rows, embeddings=emb.num_rows)
    cfg = SIZES[workload]
    # stream_ingest draws from the daily_report spec and pools of its seed
    shape = "daily_report" if workload == "stream_ingest" else workload
    rng = random.Random(f"{shape}:{seed}")
    nrng = np.random.default_rng([seed, sum(map(ord, shape))])
    channels, versions, spec_rows, events_of, props_of, pool = make_spec(rng, cfg)
    write_spec_csv(os.path.join(out_dir, "spec.csv"), spec_rows, cfg["prop_cols"])
    pools = build_pools(rng, cfg, channels, props_of)
    cat, rows = make_catalog(nrng, cfg, channels, versions, events_of, pool, pools)
    if workload == "stream_ingest":
        # the catalog arriving as equal micro-batches, one file each
        write_parts(cat, os.path.join(out_dir, "batches"), STREAM_BATCHES)
    else:
        # several files, so a local[n] scan splits into n tasks
        write_parts(cat, os.path.join(out_dir, "catalog"), CATALOG_FILES)
    report = expected_report(cfg, channels, versions, spec_rows, pools, rows)
    expected = {"columns": REPORT_COLUMNS, "rows": report}
    if workload == "stream_ingest":
        # the report to date after each micro-batch
        step = cat.num_rows // STREAM_BATCHES
        expected["prefixes"] = [
            expected_report(cfg, channels, versions, spec_rows, pools, rows, (b + 1) * step)
            for b in range(STREAM_BATCHES - 1)] + [report]
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(expected, f)
    meta.update(catalog_rows=cat.num_rows, spec_rows=len(spec_rows),
                channels=len(channels), versions=len(versions),
                events_per_version=cfg["events"], prop_pool=cfg["props"],
                spec_props=len({r[0] for r in report}),
                prop_cols=cfg["prop_cols"], report_rows=len(report),
                quirk_rates=QUIRKS)
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    return meta


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
