"""Independent expected outputs for the benchmark workloads.

Nothing here calls the engine. The migration's expected table is DuckDB
SQL over the generated files. Near-duplicate structure is exact bigram
sets compared by dense matrix products, grouped with union-find. Each
expected output is reduced to a multiset hash that `Check.scala`
computes the same way over what the engine actually published:
row count plus two 32-bit sums of per-row md5 prefixes, where a row's
text is its columns in name order, joined by U+001F, with NULL as
`\\N`, integers and strings as text, timestamps as epoch micros and
doubles as rounded cents.
"""
import duckdb
import numpy as np
import pyarrow as pa

SEP = "chr(31)"


def _canon(name, typ):
    c = f'"{name}"'
    if typ.startswith("TIMESTAMP"):
        v = f"CAST(epoch_us({c}) AS VARCHAR)"
    elif typ in ("DOUBLE", "FLOAT"):
        v = f"CAST(CAST(round({c} * 100) AS BIGINT) AS VARCHAR)"
    else:
        v = f"CAST({c} AS VARCHAR)"
    return f"coalesce({v}, '\\N')"


def multiset_hash(con, relation_sql):
    cols = sorted(con.execute(f"DESCRIBE {relation_sql}").fetchall())
    row = f"concat_ws({SEP}, {', '.join(_canon(c[0], c[1]) for c in cols)})"
    n, s1, s2 = con.execute(
        f"SELECT count(*), coalesce(sum(('0x' || substr(h, 1, 8))::BIGINT), 0), "
        f"coalesce(sum(('0x' || substr(h, 9, 8))::BIGINT), 0) "
        f"FROM (SELECT md5({row}) AS h FROM ({relation_sql}))").fetchone()
    return f"{n}:{s1}:{s2}"


def _bigram_matrix(texts, index):
    """Binary doc x bigram matrix (float32, exact for these counts)."""
    rows = []
    for t in texts:
        toks = t.lower().split()
        rows.append({index.setdefault((a, b), len(index)) for a, b in zip(toks, toks[1:])})
    return rows


def _dense(rows, width):
    m = np.zeros((len(rows), width), np.float32)
    for i, r in enumerate(rows):
        m[i, list(r)] = 1.0
    return m


def similar_pairs(left, right, threshold, same=False):
    """(i, j) index pairs with bigram-set Jaccard >= threshold; with
    `same`, left is right and only i < j is returned."""
    index = {}
    lr = _bigram_matrix(left, index)
    rr = lr if same else _bigram_matrix(right, index)
    lm, rm = _dense(lr, len(index)), _dense(rr, len(index))
    ln, rn = lm.sum(1).astype(np.float64), rm.sum(1).astype(np.float64)
    out = []
    for lo in range(0, len(lr), 1024):
        inter = (lm[lo:lo + 1024] @ rm.T).astype(np.float64)
        union = ln[lo:lo + 1024, None] + rn[None, :] - inter
        with np.errstate(divide="ignore", invalid="ignore"):
            ok = (inter > 0) & (inter / union >= threshold)
        i, j = np.nonzero(ok)
        i += lo
        keep = i < j if same else np.ones(len(i), bool)
        out.append(np.stack([i[keep], j[keep]], 1))
    return np.concatenate(out) if out else np.zeros((0, 2), int)


def components(texts, ids, threshold):
    """id -> smallest id reachable through pairs at Jaccard >= threshold."""
    parent = list(range(len(ids)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in similar_pairs(texts, texts, threshold, same=True):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    best = {}
    for i in range(len(ids)):
        r = find(i)
        best[r] = min(best.get(r, ids[i]), ids[i])
    return {ids[i]: best[find(i)] for i in range(len(ids))}


def _parquet(path):
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = false)"


MIGRATE_SQL = """
WITH x AS (
  SELECT event_id, ts, user_id, event_type, value,
         CAST(json_extract(props, '$.k') AS INTEGER) AS k,
         unnest(from_json(props -> '$.tags', '["VARCHAR"]')) AS tag,
         CAST(json_array_length(props, '$.tags') AS INTEGER) AS n_tags
  FROM {events}),
d AS (
  SELECT event_id, ts, user_id, event_type, value, k, tag, n_tags FROM (
    SELECT *, row_number() OVER (PARTITION BY event_id, tag ORDER BY ts DESC) AS rn FROM x)
  WHERE rn = 1),
p AS (SELECT event_id, ts, user_id, event_type, value, k, tag, n_tags FROM {prior})
SELECT * FROM p WHERE NOT EXISTS (
  SELECT 1 FROM d WHERE d.event_id = p.event_id AND d.tag = p.tag)
UNION ALL SELECT * FROM d
"""


def expect_migrate(con, inp):
    sql = MIGRATE_SQL.format(events=_parquet(f"{inp}/events.parquet"),
                             prior=_parquet(f"{inp}/prior.parquet"))
    return {"hash": multiset_hash(con, sql)}


def expect_curate(con, inp):
    docs = con.execute(f"SELECT doc_id, text FROM {_parquet(inp + '/documents.parquet')} "
                       "ORDER BY doc_id").fetchall()
    bench = [r[0] for r in con.execute(
        f"SELECT text FROM {_parquet(inp + '/benchmark.parquet')}").fetchall()]
    ids, texts = [d[0] for d in docs], [d[1] for d in docs]
    labels = components(texts, ids, 0.3)
    kept = [i for i in range(len(ids)) if labels[ids[i]] == ids[i]]
    dirty = {int(i) for i, _ in similar_pairs([texts[i] for i in kept], bench, 0.5)}
    clean = [kept[i] for i in range(len(kept)) if i not in dirty]
    con.register("expected_curate", pa.table({
        "doc_id": pa.array([ids[i] for i in clean], pa.int64()),
        "text": pa.array([texts[i] for i in clean])}))
    return {"hash": multiset_hash(con, "SELECT * FROM expected_curate"),
            "kept": len(kept), "contaminated": len(dirty)}


def expect_ingest(con, inp, first_day, last_day):
    """Expected (events table, docs table) hashes after each landed day."""
    batches = [f"{inp}/batches/events_day={d}/part-00000.parquet"
               for d in range(first_day, last_day + 1)]
    docs = con.execute(
        f"SELECT doc_id, text, day FROM read_parquet('{inp}/docs/*/*.parquet', "
        "hive_partitioning = true) ORDER BY doc_id").fetchall()
    con.execute(f"CREATE TABLE ev AS SELECT event_id, ts, user_id, event_type, value, k, day "
                f"FROM {_parquet(inp + '/preload.parquet')}")
    con.execute(f"CREATE TABLE dc AS SELECT doc_id, text, day FROM "
                f"{_parquet(inp + '/docs_base.parquet')}")
    out = {}
    for day, path in zip(range(first_day, last_day + 1), batches):
        con.execute(f"""
            INSERT INTO ev SELECT event_id, ts, user_id, event_type, value, k, day FROM (
              SELECT *, CAST(json_extract(props, '$.k') AS INTEGER) AS k,
                     row_number() OVER (PARTITION BY event_id ORDER BY ts DESC) AS rn
              FROM read_parquet('{path}')) WHERE rn = 1""")
        upto = [d for d in docs if d[2] <= day]
        labels = components([d[1] for d in upto], [d[0] for d in upto], 0.3)
        for d in upto:
            if d[2] == day and labels[d[0]] == d[0]:
                con.execute("INSERT INTO dc VALUES (?, ?, ?)", [d[0], d[1], d[2]])
        out[str(day)] = {"events": multiset_hash(con, "SELECT * FROM ev"),
                         "docs": multiset_hash(con, "SELECT * FROM dc")}
    return {"days": out}


def expected(workload, inp, first_day=None, last_day=None):
    con = duckdb.connect()
    con.execute("SET threads = 2")
    try:
        if workload == "migrate_merge":
            return expect_migrate(con, inp)
        if workload == "curate_dedup":
            return expect_curate(con, inp)
        return expect_ingest(con, inp, first_day, last_day)
    finally:
        con.close()
