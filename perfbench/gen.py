"""Seeded input generator for the perfbench workloads.

Everything a run reads is derived from ``--seed`` here, once per seed and
outside every timed region:

* ``dashboard``: raw ``events_part_*.csv`` (the engine's ``events`` schema),
  refresh deltas, and a Zipf-skewed query stream with the points at which
  each delta is applied.
* ``curate``: a document corpus with planted exact and near duplicates, and
  clustered embeddings with a separate query set.

``expected.json`` in each data directory records what the checker needs
(planted groups, refresh points); the JVM side never reads it.
"""
import json
import os

import numpy as np

START = np.datetime64("2024-01-01T00:00:00", "ms")
TYPES = ["view", "click", "purchase", "signup", "error"]
TYPE_WEIGHTS = [0.40, 0.25, 0.15, 0.10, 0.10]
HEADER = "event_id,ts,user_id,event_type,value,props"

# Sizes. The layout keeps the reference's event_type x day partitioning
# (5 types x 10 days = 50 partitions) at a row count a cold JVM prepares in
# seconds on a 4-core box.
DAYS = 10
USERS = 2_000
DASH_ROWS = 30_000
DASH_DELTA_ROWS = 1_500
DASH_DELTA_DAYS = 2                   # a delta lands in the latest days
DASH_QUERIES = 72
DASH_REFRESH_BEFORE = [36]            # a delta is refreshed in before these queries
DASH_COMPACT_BEFORE = 56              # one compaction near the end
DOCS_BASE = 1_500
EMB_VECS = 2_000
EMB_QUERIES = 100
EMB_DIM = 64


def _events(rng, n, first_id, first_day=0):
    """n raw events as CSV lines (no header), ts in [START+first_day, START+DAYS)."""
    ms = rng.integers(first_day * 86_400_000, DAYS * 86_400_000, n)
    ms.sort()
    ts = (START + ms.astype("timedelta64[ms]")).astype(str)
    ts = np.char.replace(ts, "T", " ")
    # mildly skewed users: a power law over the id range
    users = np.minimum((rng.power(0.6, n) * USERS).astype(np.int64), USERS - 1)
    types = rng.choice(len(TYPES), n, p=TYPE_WEIGHTS)
    cents = np.round(rng.lognormal(2.5, 0.9, n) * 100).astype(np.int64) + 1
    props = rng.integers(0, 100, n)
    ids = np.arange(first_id, first_id + n)
    return [f"{i},{t},{u},{TYPES[k]},{c // 100}.{c % 100:02d},k:{p}"
            for i, t, u, k, c, p in zip(ids, ts, users, types, cents, props)]


def _write_csv(path, lines):
    with open(path, "w", encoding="utf-8") as f:
        f.write(HEADER + "\n")
        f.write("\n".join(lines))
        f.write("\n")


def _day(rng):
    return str((START + np.timedelta64(int(rng.integers(0, DAYS)), "D"))
               .astype("datetime64[D]"))


def _day_range(rng, max_len=10):
    a = int(rng.integers(0, DAYS - 1))
    b = min(DAYS - 1, a + int(rng.integers(1, max_len)))
    d = lambda x: str((START + np.timedelta64(x, "D")).astype("datetime64[D]"))
    return d(a), d(b)


def _user_range(rng, width):
    a = int(rng.integers(0, USERS - width))
    return a, a + width


def _cond(c, op, v):
    return {"col": c, "op": op, "val": v}


# One function per query template: rng -> DSL query dict. r_* land on a
# rollup, z_* on the z-ordered layout; s_* can only be answered by a scan.
def r_type_day(rng):
    t = TYPES[int(rng.integers(0, len(TYPES)))]
    return {"select": ["day", {"SUM": "value"}, {"COUNT": "*"}], "from": "events",
            "where": [_cond("event_type", "eq", t)], "group_by": ["day"]}


def r_types_in_days(rng):
    a, b = _day_range(rng)
    return {"select": ["event_type", {"COUNT": "*"}, {"AVG": "value"}],
            "from": "events", "where": [_cond("day", "between", [a, b])],
            "group_by": ["event_type"]}


def r_user_type(rng):
    t = TYPES[int(rng.integers(0, len(TYPES)))]
    a, b = _user_range(rng, int(rng.integers(20, 200)))
    return {"select": ["user_id", {"SUM": "value"}, {"COUNT": "*"}],
            "from": "events",
            "where": [_cond("event_type", "eq", t),
                      _cond("user_id", "between", [a, b])],
            "group_by": ["user_id"]}


def r_minute(rng):
    return {"select": ["minute", {"SUM": "value"}], "from": "events",
            "where": [_cond("day", "eq", _day(rng))], "group_by": ["minute"],
            "order_by": [{"col": "minute", "dir": "asc"}]}


def r_purchase_days(rng):
    a, b = _day_range(rng, 20)
    return {"select": ["day", {"MAX": "value"}, {"MIN": "value"}, {"AVG": "value"}],
            "from": "events",
            "where": [_cond("event_type", "eq", "purchase"),
                      _cond("day", "between", [a, b])],
            "group_by": ["day"]}


def z_box_rows(rng):
    a, b = _user_range(rng, int(rng.integers(5, 40)))
    d0, d1 = _day_range(rng, 4)
    return {"select": ["event_id", "user_id", "value"], "from": "events",
            "where": [_cond("user_id", "between", [a, b]),
                      _cond("day", "between", [d0, d1])]}


def z_box_agg(rng):
    a, b = _user_range(rng, int(rng.integers(20, 120)))
    d0, d1 = _day_range(rng, 6)
    return {"select": ["event_type", {"COUNT": "*"}, {"SUM": "value"}],
            "from": "events",
            "where": [_cond("user_id", "between", [a, b]),
                      _cond("ts", "gte", d0 + " 06:00:00"),
                      _cond("ts", "lt", d1 + " 18:00:00")],
            "group_by": ["event_type"]}


def s_hourly(rng):
    t = TYPES[int(rng.integers(0, len(TYPES)))]
    return {"select": ["hour", {"COUNT": "*"}, {"SUM": "value"}], "from": "events",
            "where": [_cond("event_type", "eq", t), _cond("day", "eq", _day(rng))],
            "group_by": ["hour"], "order_by": [{"col": "hour", "dir": "asc"}]}


def s_top_events(rng):
    t = TYPES[int(rng.integers(0, len(TYPES)))]
    return {"select": ["event_id", "value"], "from": "events",
            "where": [_cond("event_type", "eq", t), _cond("day", "eq", _day(rng)),
                      _cond("value", "gt", round(float(rng.uniform(5, 40)), 2))],
            "order_by": [{"col": "value", "dir": "desc"},
                         {"col": "event_id", "dir": "asc"}],
            "limit": 20}


def s_users_by_day(rng):
    a, b = _user_range(rng, int(rng.integers(10, 100)))
    return {"select": ["day", {"COUNT": "*"}, {"SUM": "value"}], "from": "events",
            "where": [_cond("user_id", "between", [a, b])], "group_by": ["day"]}


# (template, distinct parameter sets, share of the stream) for the dashboard.
# Each refresh era of the stream has a fixed number of slots per template;
# a fixed share of those slots are first uses of a parameter set (result-
# cache misses) and the rest repeat one of them, Zipf-skewed (hits). The
# seed moves parameters, order and which sets repeat, never the hit count.
DASH_MIX = [(r_type_day, 5, 0.08), (r_types_in_days, 30, 0.14),
            (r_user_type, 40, 0.14), (r_minute, 10, 0.10),
            (r_purchase_days, 30, 0.10), (z_box_rows, 40, 0.12),
            (z_box_agg, 40, 0.08), (s_hourly, 30, 0.10),
            (s_users_by_day, 30, 0.08), (s_top_events, 30, 0.06)]
DASH_MISS_SHARE = 0.3
DASH_ZIPF = 1.2


def _distinct(rng, template, n, seen):
    """Up to n queries from template that no earlier call produced (fewer
    when the template's parameter space is smaller than n)."""
    out = []
    for _ in range(50 * n):
        if len(out) == n:
            break
        q = template(rng)
        key = json.dumps(q, sort_keys=True)
        if key not in seen:
            seen.add(key)
            out.append(q)
    return out


def _dashboard(rng, d):
    _write_csv(os.path.join(d, "events_part_0.csv"), _events(rng, DASH_ROWS, 0))
    next_id = DASH_ROWS
    for i in range(len(DASH_REFRESH_BEFORE)):
        os.makedirs(os.path.join(d, f"delta_{i}"))
        _write_csv(os.path.join(d, f"delta_{i}", "events_part_0.csv"),
                   _events(rng, DASH_DELTA_ROWS, next_id, DAYS - DASH_DELTA_DAYS))
        next_id += DASH_DELTA_ROWS
    seen = set()
    pools = [_distinct(rng, template, n, seen) for template, n, _ in DASH_MIX]
    bounds = [0] + DASH_REFRESH_BEFORE + [DASH_QUERIES]
    stream = []
    for lo, hi in zip(bounds, bounds[1:]):
        counts = [int(round(share * (hi - lo))) for _, _, share in DASH_MIX]
        counts[0] += (hi - lo) - sum(counts)
        slots = {t: [] for t in range(len(DASH_MIX))}
        order = np.repeat(np.arange(len(DASH_MIX)), counts)
        rng.shuffle(order)
        for pos, t in enumerate(order):
            slots[int(t)].append(pos)
        era = [None] * (hi - lo)
        for t, positions in slots.items():
            if not positions:
                continue
            m = min(len(pools[t]), max(1, int(round(len(positions) * DASH_MISS_SHARE))))
            fresh = [pools[t][i] for i in rng.choice(len(pools[t]), m, replace=False)]
            w = np.arange(1, m + 1, dtype=float) ** -DASH_ZIPF
            for k, pos in enumerate(positions):
                era[pos] = fresh[k] if k < m else fresh[int(rng.choice(m, p=w / w.sum()))]
        stream += era
    with open(os.path.join(d, "stream.json"), "w") as f:
        json.dump(stream, f)
    plan = {"refresh_before": DASH_REFRESH_BEFORE,
            "compact_before": DASH_COMPACT_BEFORE}
    with open(os.path.join(d, "plan.json"), "w") as f:
        json.dump(plan, f)
    return {"queries": len(stream), **plan}


def _words(rng, n):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out, seen = [], set()
    while len(out) < n:
        w = "".join(rng.choice(letters, int(rng.integers(3, 9))))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _curate(rng, d):
    vocab = _words(rng, 3_000)
    wp = np.arange(1, len(vocab) + 1, dtype=float) ** -0.9
    wp /= wp.sum()
    texts = [" ".join(vocab[i] for i in rng.choice(len(vocab),
                                                   int(rng.integers(30, 120)), p=wp))
             for _ in range(DOCS_BASE)]
    exact_groups, near = [], []
    base_ids = list(range(DOCS_BASE))
    for src in rng.choice(DOCS_BASE, 100, replace=False):
        group = [int(src)]
        for _ in range(int(rng.integers(1, 4))):
            texts.append(texts[src])
            group.append(len(texts) - 1)
        exact_groups.append(group)
    for src in rng.choice(base_ids, 100, replace=False):
        words = texts[src].split(" ")
        for j in rng.choice(len(words), max(1, len(words) // 25), replace=False):
            words[j] = vocab[int(rng.integers(0, len(vocab)))]
        texts.append(" ".join(words))
        near.append([int(src), len(texts) - 1])
    # ids are a seeded permutation so copies never sit next to their source
    ids = rng.permutation(len(texts)) + 1
    with open(os.path.join(d, "docs.jsonl"), "w") as f:
        for i, t in zip(ids, texts):
            f.write(json.dumps({"doc_id": int(i), "text": t}) + "\n")
    centers = rng.normal(0, 1, (32, EMB_DIM))
    lab = rng.integers(0, 32, EMB_VECS)
    vecs = centers[lab] + rng.normal(0, 0.9, (EMB_VECS, EMB_DIM))
    qlab = rng.integers(0, 32, EMB_QUERIES)
    qvecs = centers[qlab] + rng.normal(0, 0.9, (EMB_QUERIES, EMB_DIM))
    for name, first, m in (("embeddings", 0, vecs), ("queries", 1_000_000, qvecs)):
        with open(os.path.join(d, f"{name}.jsonl"), "w") as f:
            for i, v in enumerate(m.astype(np.float32)):
                f.write(json.dumps({"vec_id": first + i,
                                    "embedding": [float(x) for x in v]}) + "\n")
    import duckdb
    con = duckdb.connect()
    con.execute(f"COPY (SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM "
                f"read_json('{d}/docs.jsonl', format='newline_delimited')) "
                f"TO '{d}/docs.parquet' (FORMAT parquet)")
    for name in ("embeddings", "queries"):
        con.execute(f"COPY (SELECT CAST(vec_id AS BIGINT) AS vec_id, "
                    f"CAST(embedding AS FLOAT[]) AS embedding FROM "
                    f"read_json('{d}/{name}.jsonl', format='newline_delimited')) "
                    f"TO '{d}/{name}.parquet' (FORMAT parquet)")
    con.close()
    remap = {k: int(ids[k]) for k in range(len(texts))}
    return {"docs": len(texts),
            "exact_groups": [[remap[k] for k in g] for g in exact_groups],
            "near_pairs": [[remap[k] for k in p] for p in near]}


def generate(workload, seed, root):
    """Write the inputs of (workload, seed) under root, once; return the
    directory. A finished directory carries expected.json."""
    d = os.path.join(root, f"{workload}-{seed}")
    if os.path.exists(os.path.join(d, "expected.json")):
        return d
    if os.path.exists(d):
        import shutil
        shutil.rmtree(d)
    os.makedirs(d)
    rng = np.random.default_rng([seed, {"dashboard": 2, "curate": 3}[workload]])
    expected = {"dashboard": _dashboard, "curate": _curate}[workload](rng, d)
    raw = sum(os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(d)
              for f in fs if f.startswith("events_part_"))
    expected["raw_bytes"] = raw
    with open(os.path.join(d, "expected.json"), "w") as f:
        json.dump(expected, f)
    return d
