"""Seeded input generator for the three benchmark workloads.

Every input is a pure function of (workload, seed): the same seed writes
byte-identical parquet files. The generator never reads anything; it
writes only under the directory it is given. The shapes follow the
repo's `events` and `documents` test tables (same columns, same kind of
values), scaled as each workload needs.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import oracle

# Same kind of vocabulary as the repo's `documents` table: a few dozen
# engine words, drawn with a Zipf-like skew.
VOCAB = (
    "a the data spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row part table stream merge batch "
    "join vector customer load dump hive text file stage plan task shuffle "
    "cache index node page range split write read count"
).split()
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
N_TAGS = 32
DAY0_US = 1704067200 * 1_000_000  # 2024-01-01 00:00:00 UTC
DAY_US = 86_400 * 1_000_000
TS = pa.timestamp("us", tz="UTC")

# migrate_merge: sf0.1-sized `events` (100k rows) replicated R times with
# the key offset r * 10^7, about 5% of keys re-sent with a later ts.
MIGRATE_BASE = 50_000
MIGRATE_R = 1
MIGRATE_SPLITS = 8
DUP_SHARE = 0.05
# curate_dedup: sf0.1-sized `documents` plus planted near-duplicates.
CURATE_DOCS = 2_000
CURATE_NEAR_DUP_SHARE = 0.25
BENCH_COPIES = 60
BENCH_FRESH = 140
# ingest_daily: days 1-22 pre-loaded, days 23-30 land one per unit.
INGEST_ROWS_PER_DAY = 3_300
INGEST_FIRST_DAY = 23
INGEST_LAST_DAY = 30
INGEST_BASE_DOCS = 404
INGEST_NEW_DOCS = 9
INGEST_NEAR_DUPS = 3


def _rng(seed, workload):
    return np.random.default_rng([seed, sum(map(ord, workload))])


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _write_split(table, dir_path, parts):
    """One table as `parts` files, so a scan has more than one split."""
    n = table.num_rows
    for i in range(parts):
        lo, hi = n * i // parts, n * (i + 1) // parts
        _write(table.slice(lo, hi - lo), os.path.join(dir_path, f"part-{i:05d}.parquet"))


def _words(rng, n):
    w = 1.0 / np.arange(1, len(VOCAB) + 1) ** 0.8
    return rng.choice(len(VOCAB), size=n, p=w / w.sum())


def _doc(rng, lo=8, hi=64):
    return [VOCAB[i] for i in _words(rng, int(rng.integers(lo, hi)))]


def _edit(rng, toks, edits):
    """A near-duplicate: `edits` seeded single-token replacements,
    deletions or insertions."""
    toks = list(toks)
    for _ in range(edits):
        op, pos = int(rng.integers(0, 3)), int(rng.integers(0, len(toks)))
        word = VOCAB[int(_words(rng, 1)[0])]
        if op == 0:
            toks[pos] = word
        elif op == 1 and len(toks) > 5:
            del toks[pos]
        else:
            toks.insert(pos, word)
    return toks


def _tags(rng, n):
    """1-3 distinct tags per row: offsets 0, 1..15 and 16..31 from a
    random start never collide mod 32."""
    a = rng.integers(0, N_TAGS, n)
    b = (a + 1 + rng.integers(0, 15, n)) % N_TAGS
    c = (a + 16 + rng.integers(0, 16, n)) % N_TAGS
    k = rng.integers(1, 4, n)
    return [[f"t{x:02d}" for x in (a[i], b[i], c[i])[: k[i]]] for i in range(n)]


def _props(ks, tags):
    return [json.dumps({"k": int(k), "tags": t}) for k, t in zip(ks, tags)]


def _events(rng, ids, ts_us):
    n = len(ids)
    return {
        "event_id": pa.array(ids, pa.int64()),
        "ts": pa.array(ts_us, pa.int64()).cast(TS),
        "user_id": pa.array(rng.integers(0, 20_000, n), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(rng.integers(0, 100_000, n) / 100.0, pa.float64()),
    }


def _with_dups(rng, cols, props_of):
    """Re-send a seeded ~5% of keys with a later ts, a new value and a
    new `k`; the re-sent rows are appended, as late arrivals are."""
    n = len(cols["event_id"])
    pick = np.sort(rng.choice(n, size=int(n * DUP_SHARE), replace=False))
    ts = cols["ts"].cast(pa.int64()).to_numpy()
    dup = {
        "event_id": cols["event_id"].take(pick),
        "ts": pa.array(ts[pick] + rng.integers(1, 3_600_000_000, len(pick)), pa.int64()).cast(TS),
        "user_id": cols["user_id"].take(pick),
        "event_type": cols["event_type"].take(pick),
        "value": pa.array(rng.integers(0, 100_000, len(pick)) / 100.0, pa.float64()),
    }
    props = props_of(pick)
    out = {c: pa.concat_arrays([cols[c], dup[c]]) for c in cols}
    out["props"] = pa.concat_arrays([props[0], props[1]])
    return out


def gen_migrate(seed, out):
    rng = _rng(seed, "migrate_merge")
    n = MIGRATE_BASE * MIGRATE_R
    ids = np.concatenate([r * 10**7 + np.arange(MIGRATE_BASE) for r in range(MIGRATE_R)])
    ts = DAY0_US + np.arange(n) * 3_000_000 + rng.integers(0, 1_000_000, n)
    cols = _events(rng, ids, ts)
    tags = _tags(rng, n)
    ks = rng.integers(0, 1000, n)

    def props_of(pick):
        new_k = rng.integers(0, 1000, len(pick))
        return (pa.array(_props(ks, tags)), pa.array(_props(new_k, [tags[i] for i in pick])))

    src = pa.table(_with_dups(rng, cols, props_of))
    _write_split(src, os.path.join(out, "events.parquet"), MIGRATE_SPLITS)

    # prior target version: about half the keys with stale values, plus
    # keys the source does not have; already in the published shape
    stale = np.flatnonzero(rng.random(n) < 0.5)
    extra = int(n * 0.05)
    p_ids = np.concatenate([ids[stale], 9 * 10**8 + np.arange(extra)])
    p_ts = np.concatenate([ts[stale] - 86_400_000_000, DAY0_US - rng.integers(1, 10**12, extra)])
    p_tags = [tags[i] for i in stale] + _tags(rng, extra)
    p_k = rng.integers(0, 1000, len(p_ids))
    reps = np.array([len(t) for t in p_tags])
    pcols = _events(rng, p_ids, p_ts)
    prior = {c: pcols[c].take(pa.array(np.repeat(np.arange(len(p_ids)), reps))) for c in pcols}
    prior["k"] = pa.array(np.repeat(p_k, reps), pa.int32())
    prior["tag"] = pa.array([t for ts_ in p_tags for t in ts_])
    prior["n_tags"] = pa.array(np.repeat(reps, reps), pa.int32())
    _write_split(pa.table(prior), os.path.join(out, "prior.parquet"), MIGRATE_SPLITS)
    return {"input_rows": src.num_rows}


def gen_curate(seed, out):
    rng = _rng(seed, "curate_dedup")
    docs = [_doc(rng) for _ in range(CURATE_DOCS)]
    n_dup = int(CURATE_DOCS * CURATE_NEAR_DUP_SHARE)
    srcs = rng.choice(CURATE_DOCS, size=n_dup)
    docs += [_edit(rng, docs[s], int(rng.integers(1, 4))) for s in srcs]
    bench = [_edit(rng, docs[int(s)], int(rng.integers(1, 3)))
             for s in rng.choice(len(docs), size=BENCH_COPIES, replace=False)]
    bench += [_doc(rng) for _ in range(BENCH_FRESH)]
    order = rng.permutation(len(bench))
    _write_split(pa.table({
        "doc_id": pa.array(np.arange(len(docs)), pa.int64()),
        "text": pa.array([" ".join(d) for d in docs]),
        "source": pa.array([f"src{i % 7}" for i in range(len(docs))]),
    }), os.path.join(out, "documents.parquet"), 4)
    _write(pa.table({
        "bench_id": pa.array(np.arange(len(bench)), pa.int64()),
        "text": pa.array([" ".join(bench[i]) for i in order]),
    }), os.path.join(out, "benchmark.parquet", "part-00000.parquet"))
    return {"input_rows": len(docs) + len(bench)}


def gen_ingest(seed, out):
    rng = _rng(seed, "ingest_daily")
    pre = []
    for day in range(1, INGEST_LAST_DAY + 1):
        n = INGEST_ROWS_PER_DAY
        ids = day * 10**6 + np.arange(n)
        ts = DAY0_US + (day - 1) * DAY_US + np.sort(rng.integers(0, DAY_US - 3_600_000_000, n))
        cols = _events(rng, ids, ts)
        ks = rng.integers(0, 1000, n)
        tags = _tags(rng, n)
        if day < INGEST_FIRST_DAY:
            cols["k"] = pa.array(ks, pa.int32())
            cols["day"] = pa.array(np.full(n, day), pa.int32())
            pre.append(pa.table(cols))
            continue

        def props_of(pick):
            new_k = rng.integers(0, 1000, len(pick))
            return (pa.array(_props(ks, tags)), pa.array(_props(new_k, [tags[i] for i in pick])))

        batch = _with_dups(rng, cols, props_of)
        batch["day"] = pa.array(np.full(len(batch["event_id"]), day), pa.int32())
        _write(pa.table(batch), os.path.join(out, "batches", f"events_day={day}", "part-00000.parquet"))
    preload = pa.concat_tables(pre)
    _write_split(preload, os.path.join(out, "preload.parquet"), 4)

    # documents: the base corpus spread over days 1-22, then per day a
    # few fresh docs plus planted near-duplicates of earlier docs
    texts, days = [], []
    for i in range(INGEST_BASE_DOCS):
        texts.append(_doc(rng))
        days.append(1 + i * (INGEST_FIRST_DAY - 1) // INGEST_BASE_DOCS)
    for day in range(INGEST_FIRST_DAY, INGEST_LAST_DAY + 1):
        earlier = len(texts)
        for _ in range(INGEST_NEW_DOCS):
            texts.append(_doc(rng))
            days.append(day)
        for s in rng.choice(earlier, size=INGEST_NEAR_DUPS, replace=False):
            texts.append(_edit(rng, texts[int(s)], int(rng.integers(1, 4))))
            days.append(day)
    ids = np.arange(len(texts))
    for day in sorted(set(days)):
        sel = [i for i in ids if days[i] == day]
        _write(pa.table({
            "doc_id": pa.array(sel, pa.int64()),
            "text": pa.array([" ".join(texts[i]) for i in sel]),
        }), os.path.join(out, "docs", f"day={day}", "part-00000.parquet"))

    # day-22 state: exact labels of the base corpus and its canonical docs
    base = [i for i in ids if days[i] < INGEST_FIRST_DAY]
    labels = oracle.components([" ".join(texts[i]) for i in base], base, 0.3)
    _write(pa.table({
        "id": pa.array(base, pa.int64()),
        "component": pa.array([labels[i] for i in base], pa.int64()),
    }), os.path.join(out, "labels.parquet", "part-00000.parquet"))
    canon = [i for i in base if labels[i] == i]
    _write(pa.table({
        "doc_id": pa.array(canon, pa.int64()),
        "text": pa.array([" ".join(texts[i]) for i in canon]),
        "day": pa.array([days[i] for i in canon], pa.int32()),
    }), os.path.join(out, "docs_base.parquet", "part-00000.parquet"))
    # a unit lands one day: report that day's rows and bytes (mean over days)
    days_n = INGEST_LAST_DAY - INGEST_FIRST_DAY + 1
    per_day = INGEST_ROWS_PER_DAY + int(INGEST_ROWS_PER_DAY * DUP_SHARE) + INGEST_NEW_DOCS + INGEST_NEAR_DUPS
    landed = sum(input_bytes(os.path.join(out, sub, f"{p}={d}"))
                 for d in range(INGEST_FIRST_DAY, INGEST_LAST_DAY + 1)
                 for sub, p in (("batches", "events_day"), ("docs", "day")))
    return {"input_rows": per_day, "input_bytes": landed / days_n}


GENERATORS = {"migrate_merge": gen_migrate, "curate_dedup": gen_curate, "ingest_daily": gen_ingest}


def input_bytes(root):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs)


def generate(workload, seed, out):
    """Write the workload's inputs under `out`; return its input stats."""
    stats = GENERATORS[workload](seed, out)
    stats.setdefault("input_bytes", input_bytes(out))
    return stats
