"""Output checks for the graft benchmark, run untimed after the timed region.

* Query ops: the Spark output (written by the check pass) is compared
  with the query's DuckDB oracle SQL (`SparkEntry.oracleSql`) on the
  same generated inputs, by the hash rule of the repo's oracle check:
  columns sorted by name, floats rounded to 9 decimals, rows sorted,
  then compared exactly (atol 1e-9).
* Publish ops: the read-back registry row against the row count of
  the oracle query the product publishes.
* cron_ingest: published rows per day equal the rows dropped that day,
  and every emitted hourly-rollup window equals DuckDB's count and sum.

Each check returns (name, ok, detail).
"""
import glob
import os

import duckdb
import numpy as np
import pandas as pd


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("events", "documents", "embeddings"):
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(9)
        elif np.issubdtype(df[c].dtype, np.datetime64):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def read_dir(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def compare(spark_df, duck_df):
    a, b = canon(spark_df), canon(duck_df)
    if list(a.columns) != list(b.columns):
        return False, f"schema spark={list(a.columns)} duck={list(b.columns)}"
    if len(a) != len(b):
        return False, f"rows spark={len(a)} duck={len(b)}"
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False,
                                      rtol=0, atol=1e-9)
    except AssertionError as e:
        return False, "values " + (str(e).splitlines()[-1] if str(e) else "")
    return True, f"{len(a)} rows"


def check_queries(con, check_dir, queries, oracle):
    out = []
    for name in queries:
        if name not in oracle:
            out.append((name, False, "no oracle"))
            continue
        try:
            ok, detail = compare(read_dir(os.path.join(check_dir, name)),
                                 con.sql(oracle[name]).df())
        except Exception as e:  # a broken output or oracle is a failed check
            ok, detail = False, f"error {e}"[:300]
        out.append((name, ok, detail))
    return out


def _rows(con, oracle, name):
    return con.sql(f"SELECT count(*) FROM ({oracle[name]})").fetchone()[0]


def _components_dropped(edges):
    """Non-minimum members of the connected components of `edges`."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return sum(1 for x in parent if find(x) != x)


def check_registry(con, registry, oracle):
    """Each publish op's read-back registry row against oracle counts."""
    out = []
    for name, rows in registry.items():
        try:
            r = rows[0]
            if name == "qc_publish":
                want, got = _rows(con, oracle, "ts_climatology_anomaly"), r["n_rows"]
            elif name == "corpus_curate_publish":
                want, got = _rows(con, oracle, "corpus_clean"), r["n_docs"]
            elif name == "embedding_curate_publish":
                edges = con.sql(
                    f"SELECT least(vec_id, neighbor_id), greatest(vec_id, neighbor_id) "
                    f"FROM ({oracle['knn_graph_ivf']}) WHERE cosine >= 0.35").fetchall()
                total = con.sql("SELECT count(*) FROM embeddings").fetchone()[0]
                want = (total - _components_dropped(edges), total)
                got = (r["n_vecs"], r["n_vecs"] + r["n_dropped"])
            else:
                out.append((name, False, "no registry rule"))
                continue
            out.append((name, want == got, f"registry {got} oracle {want}"))
        except Exception as e:
            out.append((name, False, f"error {e}"[:300]))
    return out


def check_cron(published, rollup, drops, landed, last_drop):
    """Every drop up to `last_drop` is published, and every published day
    holds exactly the rows dropped for it; every emitted hourly-rollup
    window matches DuckDB over the landed drops (sums within one unit of
    their 2-decimal rounding: the summation order differs)."""
    out = []
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    landed = [d for k, d in enumerate(drops) if k in landed]
    try:
        got = dict(con.sql(
            f"SELECT CAST(p_day AS VARCHAR), count(*) FROM read_parquet("
            f"'{published}/*/*.parquet', hive_partitioning = true) GROUP BY 1").fetchall())
        want = {d["day"]: d["rows"] for d in landed}
        bad = [day for day, n in got.items() if want.get(day) != n]
        missing = [d["day"] for d in drops[:last_drop + 1] if d["day"] not in got]
        out.append(("published_rows_per_day", not bad and not missing,
                    f"{len(got)} days, mismatched {bad[:5]} missing {missing[:5]}"))
    except Exception as e:
        out.append(("published_rows_per_day", False, f"error {e}"[:300]))
    try:
        files = ",".join(f"'{d['path']}'" for d in landed)
        con.execute(f"CREATE VIEW dropped AS SELECT * FROM read_parquet([{files}])")
        roll = glob.glob(f"{rollup}/*.parquet")
        if not roll:
            out.append(("rollup_windows", False, "no rollup output"))
        else:
            bad = con.sql(f"""
                WITH r AS (SELECT * FROM read_parquet('{rollup}/*.parquet')),
                o AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS w, event_type,
                             count(*) AS n, round(sum(value), 2) AS s
                      FROM dropped GROUP BY 1, 2)
                SELECT count(*) FROM r LEFT JOIN o
                  ON r.window_start = o.w AND r.event_type = o.event_type
                WHERE o.n IS NULL OR o.n != r.n OR abs(o.s - r.sum_value) > 0.01 + 1e-9
            """).fetchone()[0]
            n = con.sql(f"SELECT count(*) FROM read_parquet('{rollup}/*.parquet')").fetchone()[0]
            out.append(("rollup_windows", bad == 0 and n > 0, f"{n} windows, {bad} mismatched"))
    except Exception as e:
        out.append(("rollup_windows", False, f"error {e}"[:300]))
    return out
