"""Seeded input generator for the benchmark.

Writes corpus directories in the layout the program reads
(`events.parquet`, `customer.parquet`, `nation.parquet`,
`documents.parquet`), from a seed alone. The same seed gives the same
bytes. The program never sees the seed, only these files.

Every size, skew and share below is recorded in the workload's
`inputs.json` together with the reason it was chosen.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The program's fixed reporting instant (WeatherPipeline.AsOf) and its
# 168 h cleaning window. Generated timestamps straddle the window start
# so the time filter and the event_date partition pruning drop real rows.
AS_OF_US = 1706659200 * 10**6  # 2024-01-31 00:00:00 UTC
HOUR_US = 3600 * 10**6
DAY_US = 24 * HOUR_US
WINDOW_H = 168

N_STATIONS = 100  # WeatherSynth keeps c_custkey < 100: the synth's cap
N_POSTAL = 300    # about the reference's gold postal-code count

# Each workload's input parameters and why they were chosen.
WORKLOADS = {
    "wx_backfill": {
        "rows": 20_000, "days": 10,
        "station_zipf": 1.1,
        "why": {
            "rows": "a cold Pipeline.run costs about 26 s on 4 cores at 20k "
                    "rows and grows slowly with rows (JVM warm-up, code "
                    "generation and ~35 Spark jobs dominate); 1M rows would "
                    "take minutes, past the per-run budget",
            "days": "10 days, 3 of them before AsOf - 168 h, so the "
                    "window filter and day pruning drop 30% of rows",
            "station_zipf": "per-station volume is skewed (Zipf 1.1 over "
                            "100 stations) so shuffle partitions are uneven, "
                            "as with real station feeds",
        },
    },
    "wx_serve": {
        "rows": 20_000, "days": 10,
        "station_zipf": 1.1,
        "why": {
            "rows": "serving cost follows gold's size (300 postal codes x "
                    "hours), not raw volume; 20k raw rows already fill "
                    "nearly every (postal, hour) cell of the window",
            "postal_zipf": "API reads concentrate on a few postal codes "
                           "(Zipf 1.1 over 300, drawn by the harness), as "
                           "city traffic does",
        },
    },
    "wx_ticks": {
        "rows_per_hour": 100, "base_days": 6, "ticks": 48,
        "late_share": 0.05, "replay_share": 0.02, "late_max_hours": 24,
        "station_zipf": 1.1,
        "why": {
            "rows_per_hour": "one raw row per station-hour on average, "
                             "enough to fill most gold cells",
            "base_days": "6 days of base backfill: every tick re-derives "
                         "gold from staging, so the base sets tick cost",
            "late_share": "5% of each slice belongs to earlier hours (up to "
                          "24 h late), so upserts touch old keys",
            "replay_share": "2% of each slice replays event_ids already "
                            "landed, so the idempotent merge path runs",
            "ticks": "more slices than a run can use, so a run never runs "
                     "out of input",
        },
    },
    "corpus_dedup": {
        "docs": 3_000, "append_parts": 2, "append_docs": 150,
        "vocab": 50_000, "exact_dup_share": 0.05, "near_dup_share": 0.05,
        "sources": 4, "min_toks": 20, "max_toks": 60,
        "why": {
            "docs": "one cold cycle costs ~40 s at 3k docs, almost all of "
                    "it fixed per-job cost; 50k docs would add minutes",
            "vocab": "a 50k-word Zipf vocabulary keeps 3-gram shingles "
                     "mostly unique, as in natural text",
            "exact_dup_share": "5% planted exact copies for the exact dedup",
            "near_dup_share": "5% planted one-token edits (3-gram Jaccard "
                              "about 0.85) for the LSH near-dup path",
            "append_parts": "appended part files run the incremental "
                            "LshPairs path after the full build; each costs "
                            "~8 s, so 2 rather than 4",
        },
    },
}

CORPUS_RECALL_FLOOR = 0.80
"""Near-duplicate recall floor: a one-token edit of a 20-60 token doc
has 3-gram Jaccard 0.85 or more; 4 bands of 4 rows catch such a pair with
probability 0.95, so recall below 0.80 is a defect, not bad luck."""


def _zipf_weights(n, s):
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _dims(out):
    """customer (stations are c_custkey < 100) and nation (postal codes)."""
    nc = N_STATIONS
    _write(pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Station#{k:05d}" for k in range(nc)]),
        "c_nationkey": pa.array((np.arange(nc) % 25).astype(np.int32)),
        "c_acctbal": pa.array(np.round(np.arange(nc) * 1.5, 2)),
        "c_mktsegment": pa.array(["WEATHER"] * nc),
    }), os.path.join(out, "customer.parquet"))
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(N_POSTAL, dtype=np.int32)),
        "n_name": pa.array([f"CITY{k:04d}" for k in range(N_POSTAL)]),
        "n_regionkey": pa.array((np.arange(N_POSTAL) % 5).astype(np.int32)),
    }), os.path.join(out, "nation.parquet"))


def _events_table(ids, ts_us, stations, rng):
    n = len(ids)
    users = stations + N_STATIONS * rng.integers(0, 50, n)
    types = np.array(["obs", "synop", "metar"])[rng.integers(0, 3, n)]
    return pa.table({
        "event_id": pa.array(ids.astype(np.int64)),
        "ts": pa.array(ts_us.astype(np.int64), type=pa.timestamp("us")),
        "user_id": pa.array(users.astype(np.int64)),
        "event_type": pa.array(types),
        "value": pa.array(np.round(rng.uniform(0.01, 490.0, n), 2)),
        "props": pa.array([None] * n, type=pa.string()),
    })


def _weather_rows(rng, n, start_us, end_us, zipf):
    ts = np.sort(rng.integers(start_us, end_us, n))
    st = rng.choice(N_STATIONS, n, p=_zipf_weights(N_STATIONS, zipf))
    return ts, st


def gen_weather(out, p, rng):
    start = AS_OF_US - p["days"] * DAY_US
    ts, st = _weather_rows(rng, p["rows"], start, AS_OF_US, p["station_zipf"])
    ids = rng.permutation(p["rows"])
    _write(_events_table(ids, ts, st, rng), os.path.join(out, "events.parquet"))
    _dims(out)
    before = int((ts < AS_OF_US - WINDOW_H * HOUR_US).sum())
    return {"raw_rows": p["rows"], "rows_before_window": before}


def gen_ticks(out, p, rng):
    """Base corpus plus one slice directory per hourly tick."""
    base_end = AS_OF_US - 12 * HOUR_US
    base_start = base_end - p["base_days"] * DAY_US
    base_n = p["rows_per_hour"] * 24 * p["base_days"]
    ts, st = _weather_rows(rng, base_n, base_start, base_end, p["station_zipf"])
    ids = np.arange(base_n)
    _write(_events_table(ids, ts, st, rng),
           os.path.join(out, "base", "events.parquet"))
    _dims(os.path.join(out, "base"))
    next_id = base_n
    landed_ids = ids
    slices = []
    for k in range(p["ticks"]):
        h0 = base_end + k * HOUR_US
        n_new = p["rows_per_hour"]
        n_late = int(round(n_new * p["late_share"]))
        n_rep = int(round(n_new * p["replay_share"]))
        t_new, s_new = _weather_rows(rng, n_new, h0, h0 + HOUR_US,
                                     p["station_zipf"])
        t_late, s_late = _weather_rows(
            rng, n_late, h0 - p["late_max_hours"] * HOUR_US, h0,
            p["station_zipf"])
        new_ids = np.arange(next_id, next_id + n_new + n_late)
        next_id += n_new + n_late
        fresh = _events_table(new_ids, np.concatenate([t_new, t_late]),
                              np.concatenate([s_new, s_late]), rng)
        # replays: exact copies of rows an earlier tick or the base landed
        rep_ids = np.sort(rng.choice(landed_ids, n_rep, replace=False))
        replays = _replay_rows(out, slices, rep_ids)
        tbl = pa.concat_tables([fresh, replays]) if replays.num_rows else fresh
        d = os.path.join(out, "slices", f"{k:03d}")
        _write(tbl, os.path.join(d, "events.parquet"))
        slices.append(d)
        landed_ids = np.concatenate([landed_ids, new_ids])
    return {"base_rows": base_n, "ticks": p["ticks"],
            "slice_rows": p["rows_per_hour"]
            + int(round(p["rows_per_hour"] * p["late_share"]))
            + int(round(p["rows_per_hour"] * p["replay_share"]))}


def _replay_rows(out, slices, rep_ids):
    """Rows with the given event_ids, copied from earlier inputs."""
    srcs = [os.path.join(out, "base", "events.parquet")] + [
        os.path.join(d, "events.parquet") for d in slices]
    want = set(int(i) for i in rep_ids)
    parts = []
    for s in srcs:
        t = pq.read_table(s)
        mask = np.isin(t.column("event_id").to_numpy(), rep_ids)
        if mask.any():
            t = t.filter(pa.array(mask))
            # a replay copies the first landing of the id
            keep = [i for i, e in enumerate(t.column("event_id").to_pylist())
                    if e in want]
            for e in t.column("event_id").to_pylist():
                want.discard(e)
            parts.append(t.take(pa.array(keep, type=pa.int64())))
    if not parts:
        return pq.read_table(srcs[0]).slice(0, 0)
    return pa.concat_tables(parts)


def gen_corpus(out, p, rng):
    """Base documents, planted duplicates and the appended part files.

    Returns the planted truth the correctness check compares against:
    the doc_ids an exact dedup keeps, and the near-duplicate pairs.
    """
    vocab = [f"w{k}" for k in range(p["vocab"])]
    vp = _zipf_weights(p["vocab"], 1.0)
    total = p["docs"] + p["append_parts"] * p["append_docs"]
    lens = rng.integers(p["min_toks"], p["max_toks"] + 1, total)
    pool = rng.choice(p["vocab"], int(lens.sum()), p=vp)
    offs = np.concatenate([[0], np.cumsum(lens)])
    docs, origin = [], []  # origin: ("u",), ("x", src_id), ("n", src_id)
    for i in range(total):
        r = rng.random()
        if i >= 20 and r < p["exact_dup_share"]:
            j = _pick_unique(rng, origin, i)
            docs.append(list(docs[j]))
            origin.append(("x", j))
        elif i >= 20 and r < p["exact_dup_share"] + p["near_dup_share"]:
            j = _pick_unique(rng, origin, i)
            toks = list(docs[j])
            pos = int(rng.integers(0, len(toks)))
            toks[pos] = int(rng.integers(0, p["vocab"]))
            while toks == docs[j]:
                toks[pos] = int(rng.integers(0, p["vocab"]))
            docs.append(toks)
            origin.append(("n", j))
        else:
            docs.append(pool[offs[i]:offs[i + 1]].tolist())
            origin.append(("u",))
    texts = [" ".join(vocab[t] for t in d) for d in docs]
    sources = [f"src{int(h[:2], 16) % p['sources']}"
               for h in (hashlib.md5(str(i).encode()).hexdigest()
                         for i in range(total))]

    def table(lo, hi):
        return pa.table({
            "doc_id": pa.array(np.arange(lo, hi, dtype=np.int64)),
            "text": pa.array(texts[lo:hi]),
            "lang": pa.array(["en"] * (hi - lo)),
            "source": pa.array(sources[lo:hi]),
            "n_chars": pa.array([len(t) for t in texts[lo:hi]], type=pa.int64()),
        })

    base = os.path.join(out, "base", "documents.parquet")
    _write(table(0, p["docs"]), os.path.join(base, "part-00000.parquet"))
    for k in range(p["append_parts"]):
        lo = p["docs"] + k * p["append_docs"]
        _write(table(lo, lo + p["append_docs"]),
               os.path.join(out, "appends", f"part-{k + 1:05d}.parquet"))
    first_by_text = {}
    for i, t in enumerate(texts[:p["docs"]]):
        first_by_text.setdefault(t, i)
    near = [(j, i) for i, o in enumerate(origin) if o[0] == "n"
            for j in [o[1]]]
    truth = {
        "base_docs": p["docs"],
        "total_docs": total,
        "kept_after_exact_dedup": sorted(first_by_text.values()),
        "sources": sources[:p["docs"]],
        "near_dup_pairs": near,
    }
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f)
    return {"docs": p["docs"], "appended_docs": total - p["docs"],
            "exact_dups": sum(o[0] == "x" for o in origin),
            "near_dups": len(near)}


def _pick_unique(rng, origin, i):
    while True:
        j = int(rng.integers(0, i))
        if origin[j][0] == "u":
            return j


def generate(workload, seed, root):
    """Write the inputs for (workload, seed) under root, once; return dir."""
    p = WORKLOADS[workload]
    tag = hashlib.md5(json.dumps(p, sort_keys=True).encode()).hexdigest()[:8]
    out = os.path.join(root, f"{workload}-{seed}-{tag}")
    if os.path.exists(os.path.join(out, "inputs.json")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rng = np.random.default_rng([seed, sorted(WORKLOADS).index(workload)])
    if workload == "wx_ticks":
        facts = gen_ticks(out, p, rng)
    elif workload == "corpus_dedup":
        facts = gen_corpus(out, p, rng)
    else:
        facts = gen_weather(out, p, rng)
    params = {k: v for k, v in p.items() if k != "why"}
    meta = {"workload": workload, "seed": seed, "params": params,
            "why": p["why"], "facts": facts,
            "input_bytes": _tree_bytes(out)}
    with open(os.path.join(out, "inputs.json"), "w") as f:
        json.dump(meta, f, indent=1)
    return out


def _tree_bytes(d):
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(d) for f in fs
               if f.endswith(".parquet"))
