"""Output checks for the graft benchmark, run after the timed region.

Each check replays the program's own DuckDB oracle (`SparkEntry.oracleSql`,
handed over in the run record) on the generated inputs and compares it,
row for row and value for value, with the summary the program computed
over what it wrote (`Pipeline.warehouseSummary`,
`CorpusPipeline.curationSummary`).
"""
import hashlib
import json
import os

import duckdb

# MERGE tables hold every event ever delivered (last version wins); the
# raw and view layers are overwritten by each load and hold the last drop
MERGE_TABLES = {"d_event", "d_user", "d_parameter", "d_item", "f_events"}


def _rows(con, sql, key):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return {r[cols.index(key)]: dict(zip(cols, r)) for r in cur.fetchall()}


def _compare(got_rows, want, key):
    """Mismatch descriptions between Spark's summary rows and the oracle's."""
    got = {r[key]: r for r in got_rows}
    problems = []
    if set(got) != set(want):
        problems.append(f"{key}s {sorted(got)} != oracle {sorted(want)}")
    for k in sorted(set(got) & set(want)):
        g, w = got[k], want[k]
        if set(g) != set(w):
            problems.append(f"{k}: columns {sorted(g)} != oracle {sorted(w)}")
            continue
        for c in sorted(g):
            gv, wv = g[c], w[c]
            if isinstance(wv, float) or isinstance(gv, float):
                same = gv is not None and wv is not None and float(gv) == float(wv)
            else:
                same = gv == wv
            if not same:
                problems.append(f"{k}.{c}: got {gv!r}, oracle {wv!r}")
    return problems


def drop_files(data, drops_applied):
    """The base month's events, then each applied drop's, in delivery order."""
    return [f"{data}/base/events.parquet"] + [
        f"{data}/drops/{i:03d}/events.parquet" for i in range(drops_applied)]


def want_daily_drops(data, drops_applied, sql):
    """`pipeline_late` law over a base month plus `drops_applied` drops:
    the MERGE tables equal one full load of the last-delivered version of
    each event, and the overwrite layers equal a load of the last drop."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW part AS SELECT * FROM read_parquet('{data}/base/part.parquet')")
    files = drop_files(data, drops_applied)
    delivered = " UNION ALL ".join(
        f"SELECT *, {i} AS seq FROM read_parquet('{f}')" for i, f in enumerate(files))
    con.execute(
        "CREATE VIEW events AS SELECT * EXCLUDE (seq, rn) FROM ("
        " SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY seq DESC) AS rn"
        f" FROM ({delivered})) WHERE rn = 1")
    merged = _rows(con, sql, "tbl")
    con.execute(f"CREATE OR REPLACE VIEW events AS SELECT * FROM read_parquet('{files[-1]}')")
    last = _rows(con, sql, "tbl")
    return {t: (merged if t in MERGE_TABLES else last)[t] for t in merged}


def want_corpus_curation(data, sql):
    """`pipeline_corpus`: the five curation laws replayed as one CTE chain."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{data}/corpus/documents.parquet')")
    return _rows(con, sql, "stage")


def _cache_key(workload, sql, files, extra):
    h = hashlib.sha256(f"{workload}\0{sql}\0{extra}".encode())
    for f in files:
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def check(workload, data, record, cache_dir=None):
    """List of mismatches between the run's summary and its oracle. The
    oracle's answer is a function of the inputs and the SQL only, so it is
    kept in `cache_dir` under their digest and reused by later runs."""
    if record.get("summary") is None:
        err = record.get("summary_error") or {}
        return [f"no summary: {err.get('class')}: {err.get('message')}"]
    sql = record["oracle"][record["summary_of"]]
    if workload == "daily_drops":
        n = record["drops_applied"]
        key, compute = "tbl", lambda: want_daily_drops(data, n, sql)
        files = [f"{data}/base/part.parquet"] + drop_files(data, n)
    else:
        key, compute = "stage", lambda: want_corpus_curation(data, sql)
        files = [f"{data}/corpus/documents.parquet"]
    path = None
    if cache_dir:
        path = os.path.join(cache_dir, _cache_key(workload, sql, files, key) + ".json")
        if os.path.exists(path):
            with open(path) as f:
                return _compare(record["summary"], json.load(f), key)
    want = compute()
    if path:
        os.makedirs(cache_dir, exist_ok=True)
        with open(path, "w") as f:
            json.dump(want, f)
    return _compare(record["summary"], want, key)
