"""Output checks against DuckDB, run after the timed work and outside it.

Each check returns a list of failure strings; an empty list is a pass.
"""
import glob
import hashlib
import os

import duckdb
import numpy as np
import pandas as pd

import fixture

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _connect(tmp):
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp}'")
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = %d" % (os.cpu_count() or 1))
    return con


def _frames_equal(name, engine, oracle):
    """Column-name-sorted, row-ordered comparison; floats to 1e-9 relative."""
    e = engine[sorted(engine.columns)].reset_index(drop=True)
    o = oracle[sorted(oracle.columns)].reset_index(drop=True)
    if list(e.columns) != list(o.columns):
        return [f"{name}: columns {list(e.columns)} vs oracle {list(o.columns)}"]
    if len(e) != len(o):
        return [f"{name}: {len(e)} rows vs oracle {len(o)}"]
    for c in e.columns:
        a, b = e[c], o[c]
        if a.dtype.kind == "M" or b.dtype.kind == "M":
            a = pd.to_datetime(a, utc=True).dt.tz_localize(None).astype("datetime64[us]")
            b = pd.to_datetime(b, utc=True).dt.tz_localize(None).astype("datetime64[us]")
            bad = ~((a == b) | (a.isna() & b.isna()))
        elif a.dtype.kind == "f" or b.dtype.kind == "f":
            x, y = a.astype(float).to_numpy(), b.astype(float).to_numpy()
            bad = ~np.isclose(x, y, rtol=1e-9, atol=1e-12, equal_nan=True)
        else:
            bad = a.astype(str).to_numpy() != b.astype(str).to_numpy()
        if bad.any():
            return [f"{name}: column {c} differs in {int(bad.sum())} rows"]
    return []


def _oracle_key(sf_dir, sql):
    """Content key of one oracle answer: the SQL and the input files."""
    h = hashlib.sha256(sql.encode())
    for t in TABLES:
        st = os.stat(f"{sf_dir}/{t}.parquet")
        h.update(f"{sf_dir}/{t}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:24]


def oracle_rows(sf_dir, check_dir, oracle_sql, cache_dir, tmp):
    """Each dumped engine answer against its DuckDB oracle query. Oracle
    answers depend only on the SQL and the input files, so they are kept
    in `cache_dir` under that content key and computed once."""
    con = _connect(tmp)
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    os.makedirs(cache_dir, exist_ok=True)
    fails = []
    for name, sql in sorted(oracle_sql.items()):
        files = sorted(glob.glob(os.path.join(check_dir, name, "*.parquet")))
        if not files:
            fails.append(f"{name}: no engine answer")
            continue
        engine = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        cached = os.path.join(cache_dir, _oracle_key(sf_dir, sql) + ".pkl")
        if os.path.exists(cached):
            oracle = pd.read_pickle(cached)
        else:
            oracle = con.execute(sql).fetchdf()
            oracle.to_pickle(cached + ".tmp")
            os.replace(cached + ".tmp", cached)
        fails += _frames_equal(name, engine, oracle)
    con.close()
    return fails


def etl_output(planted, data_out, saved_sql, saved_answers, tmp):
    """The job's hourly output against the same aggregate in DuckDB over the
    planted inputs, and the saved-query answers against DuckDB running the
    same SQL over that aggregate and the planted metadata."""
    con = _connect(tmp)
    good = [f for f in planted["requested_files"] if f != planted["corrupt_file"]]
    files = ", ".join(f"'{f}'" for f in good)
    means = ", ".join(f'AVG("{c}") AS "{c}_mean"' for c in fixture.ENERGY_COLUMNS)
    con.execute(f"""CREATE VIEW oracle_hourly AS
        SELECT upgrade, state, date_trunc('hour', "timestamp") AS "timestamp",
          MIN(bldg_id) AS bldg_id_min, MIN("timestamp") AS timestamp_min, {means}
        FROM read_parquet([{files}], hive_partitioning = true, union_by_name = true)
        GROUP BY upgrade, state, bldg_id, date_trunc('hour', "timestamp")""")
    con.execute(f"""CREATE VIEW engine_hourly AS SELECT * FROM read_parquet(
        '{data_out}/*/*/*.parquet', hive_partitioning = true)""")
    keys = ("upgrade", "state", "bldg_id_min", "timestamp")
    on = " AND ".join(f'CAST(o."{k}" AS VARCHAR) = CAST(e."{k}" AS VARCHAR)'
                      if k != "timestamp" else
                      f'CAST(o."{k}" AS TIMESTAMP) = CAST(e."{k}" AS TIMESTAMP)'
                      for k in keys)
    diffs = " OR ".join(
        f'NOT ((o."{c}_mean" IS NULL AND e."{c}_mean" IS NULL) OR '
        f'abs(o."{c}_mean" - e."{c}_mean") <= 1e-9 * greatest(1, abs(o."{c}_mean")))'
        for c in fixture.ENERGY_COLUMNS)
    n_oracle, n_engine, unmatched, differing = con.execute(f"""
        SELECT (SELECT count(*) FROM oracle_hourly), (SELECT count(*) FROM engine_hourly),
          count(*) FILTER (WHERE e.upgrade IS NULL OR o.upgrade IS NULL),
          count(*) FILTER (WHERE e.upgrade IS NOT NULL AND o.upgrade IS NOT NULL AND (
            CAST(o.timestamp_min AS TIMESTAMP) <> CAST(e.timestamp_min AS TIMESTAMP)
            OR {diffs}))
        FROM oracle_hourly o FULL OUTER JOIN engine_hourly e ON {on}""").fetchone()
    fails = []
    if n_oracle != planted["output_rows"] or n_engine != n_oracle:
        fails.append(f"hourly rows: engine {n_engine}, DuckDB {n_oracle}, "
                     f"planted {planted['output_rows']}")
    if unmatched or differing:
        fails.append(f"hourly output: {unmatched} unmatched and {differing} "
                     "differing rows against DuckDB")
    metas = ", ".join(f"'{f}'" for f in planted["metadata_files"])
    con.execute(f"CREATE VIEW oracle_meta AS SELECT * FROM read_parquet([{metas}])")
    for name, sql in saved_sql.items():
        duck_sql = (sql.replace("`", '"').replace("${metadata_table}", "oracle_meta")
                    .replace("${data_table}", "oracle_hourly"))
        want = sorted("|".join(str(v) for v in row) for row in con.execute(duck_sql).fetchall())
        for got in saved_answers.get(name, []):
            if got != want:
                fails.append(f"saved query {name}: {got[:3]} vs DuckDB {want[:3]}")
                break
    con.close()
    return fails
