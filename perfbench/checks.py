"""Output checks of the benchmark, all against DuckDB.

- queries: each oracled query's result equals DuckDB evaluating the
  program's own `SparkEntry.oracleSql` text on the same tables, under the
  rules of tools/compare.py (rows as a multiset, columns by name, floats
  compared as float64 when either side is float). DuckDB's results are
  memoised in oracle_memo.json as row digests, keyed by the oracle text and
  the input files' checksums; a key that is not in the memo is evaluated
  with DuckDB during the run. Every query of the workload has an oracle.
- pages: the per-(tile_id, r_regionkey) rows against the DuckDB twin of the
  pipeline, Σ n_pages against the generated rows, n_urls = n_pages; every
  written page's sha256(text) against the pages_text extractor chain; the
  interrupted-then-resumed ingest against the one-shot ingest; and a
  further runPartitioned call running no unit.
"""
import datetime
import glob
import hashlib
import json
import math
import os

import duckdb
import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
MEMO = os.path.join(HERE, "oracle_memo.json")

# per-layer metrics that only some workloads produce; the others report 0
ONLY = {
    "pages": ("sources.", "ingest.", "functions.", "spatial.", "pages.", "lineage.",
              "pages_per_s", "pages_per_s_1core", "scaling_eff", "ingest_pages_per_s"),
    "queries": ("gps.", "text.", "gps_pass_s", "text_pass_s"),
}


def applies(metric, workload):
    for w, prefixes in ONLY.items():
        if any(metric == p or (p.endswith(".") and metric.startswith(p)) for p in prefixes):
            return w == workload
    return True


# ---- canonical rows ---------------------------------------------------------


def _canon(v, as_float):
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (list, tuple, np.ndarray)):
        return [_canon(x, as_float) for x in v]
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (float, np.floating)):
        return None if math.isnan(v) else repr(float(v))
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return repr(float(v)) if as_float else int(v)
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date, np.datetime64)):
        t = pd.Timestamp(v)
        if t.tzinfo is not None:
            t = t.tz_convert("UTC").tz_localize(None)
        return t.isoformat()
    return str(v)


def digest(df, float_cols):
    """Order-free digest of a frame: columns by name, rows as a multiset."""
    cols = sorted(df.columns)
    rows = sorted(json.dumps([_canon(v, c in float_cols) for c, v in zip(cols, row)])
                  for row in df[cols].itertuples(index=False, name=None))
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def float_cols(df):
    return {c for c in df.columns if df[c].dtype.kind == "f"}


# ---- gps / text --------------------------------------------------------------


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    return con


def input_digest(data_dir):
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def memo_key(sql, inputs):
    return hashlib.sha256((inputs + "\n" + sql).encode()).hexdigest()


def oracle_entry(con, sql):
    ddf = con.sql(sql).df()
    fc = float_cols(ddf)
    return {"columns": sorted(ddf.columns), "float_columns": sorted(fc), "rows": len(ddf),
            "digest": digest(ddf, fc)}


def rebuild_memo(data_dir, sql_by_query):
    """Evaluate every oracle with DuckDB from scratch and rewrite the memo."""
    con = connect(data_dir)
    inputs = input_digest(data_dir)
    memo = {}
    for name, sql in sorted(sql_by_query.items()):
        e = oracle_entry(con, sql)
        e["query"] = name
        memo[memo_key(sql, inputs)] = e
        print(f"[perfbench] memo {name}: {e['rows']} rows", flush=True)
    with open(MEMO, "w") as f:
        json.dump(memo, f, indent=1, sort_keys=True)
        f.write("\n")


def read_spark(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def queries(work, data_dir, res):
    with open(os.path.join(work, "oracle_sql.json")) as f:
        sql = json.load(f)
    memo = {}
    if os.path.exists(MEMO):
        with open(MEMO) as f:
            memo = json.load(f)
    inputs = input_digest(data_dir)
    con = connect(data_dir)
    problems = []
    # a query that threw is counted as failed, not checked
    failed = set(res["notes"].get("failed_queries", "").split(","))
    names = [n for n in res["notes"]["queries"].split(",") if n not in failed]
    for name in names:
        sdf = read_spark(os.path.join(work, "out", name))
        if sdf is None:
            problems.append(f"{name}: no output")
            continue
        if name not in sql:
            problems.append(f"{name}: no DuckDB oracle to check it against")
            continue
        e = memo.get(memo_key(sql[name], inputs))
        if e is None:
            e = oracle_entry(con, sql[name])
        cols = sorted(sdf.columns)
        if cols != e["columns"]:
            problems.append(f"{name}: columns {cols} vs {e['columns']}")
        elif len(sdf) != e["rows"]:
            problems.append(f"{name}: rows {len(sdf)} vs {e['rows']}")
        elif digest(sdf, set(e["float_columns"]) | float_cols(sdf)) != e["digest"]:
            problems.append(f"{name}: values differ from the DuckDB oracle")
    return problems


# ---- pages ---------------------------------------------------------------------


def pages(work, res):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    inp = os.path.join(work, "input")
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{inp}/events.parquet/*.parquet')")
    con.execute(f"CREATE VIEW region AS SELECT * FROM read_parquet('{inp}/region.parquet/*.parquet')")
    problems = []
    n_input = con.sql("SELECT count(*) FROM events").fetchone()[0]
    if n_input != int(res["notes"]["pages"]):
        problems.append(f"generated {n_input} rows, expected {res['notes']['pages']}")

    with open(os.path.join(work, "pages_text_oracle.sql")) as f:
        con.execute(f"CREATE TEMP TABLE ptext_m AS {f.read()}")
    with open(os.path.join(work, "pages_oracle.sql")) as f:
        want = {(r[0], r[1]): r[2:] for r in con.sql(f.read()).fetchall()}
    for label in ("tiles_4", "tiles_1"):
        path = os.path.join(work, label + ".json")
        if not os.path.exists(path):
            continue
        with open(path) as f:
            got = json.load(f)
        if sum(t["n_pages"] for t in got) != n_input:
            problems.append(f"{label}: sum(n_pages) {sum(t['n_pages'] for t in got)} != {n_input}")
        if any(t["n_urls"] != t["n_pages"] for t in got):
            problems.append(f"{label}: n_urls != n_pages")
        have = {(t["tile_id"], t["r_regionkey"]): (t["n_pages"], t["n_urls"], t["mean_chars"])
                for t in got}
        if have != want:
            diff = sorted(set(have.items()) ^ set(want.items()), key=str)[:4]
            problems.append(f"{label}: per-tile rows differ from DuckDB: {diff}")

    ing = os.path.join(work, "ingest")
    one = f"read_parquet('{ing}/oneshot/out/*/*.parquet', hive_partitioning = true)"
    res_ = f"read_parquet('{ing}/resumed/out/*/*.parquet', hive_partitioning = true)"
    n_written = con.sql(f"SELECT count(*) FROM {one}").fetchone()[0]
    if n_written != n_input:
        problems.append(f"ingest wrote {n_written} pages of {n_input}")
    bad = con.sql(f"""SELECT count(*) FROM {one} w FULL JOIN ptext_m o USING (url)
                      WHERE w.text_sha IS DISTINCT FROM sha256(o.text)
                         OR sha256(w.text) IS DISTINCT FROM sha256(o.text)""").fetchone()[0]
    if bad:
        problems.append(f"ingest: {bad} pages whose sha256(text) differs from the extractor oracle")
    cols = "url, tile_id, text_sha, text, key"
    diff = con.sql(f"""SELECT (SELECT count(*) FROM (SELECT {cols} FROM {one} EXCEPT ALL
                                                     SELECT {cols} FROM {res_})),
                              (SELECT count(*) FROM (SELECT {cols} FROM {res_} EXCEPT ALL
                                                     SELECT {cols} FROM {one}))""").fetchone()
    if diff != (0, 0):
        problems.append(f"resumed ingest differs from the one-shot ingest: {diff}")
    notes = res["notes"]
    days = notes["ingest_days"].split(",")
    first = [d for d in notes["ingest_first"].split(",") if d]
    rest = [d for d in notes["ingest_resumed"].split(",") if d]
    if notes["ingest_oneshot"].split(",") != days:
        problems.append(f"one-shot ingest ran {notes['ingest_oneshot']}, days are {days}")
    if first + rest != days:
        problems.append(f"interrupted {first} + resumed {rest} != days {days}")
    if notes["ingest_again"]:
        problems.append(f"a further runPartitioned call ran {notes['ingest_again']}")
    return problems
