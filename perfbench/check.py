"""Output checks, run after timing.

Batch queries: the Spark outputs of two untimed passes (the warm-up, and
one more after the timed passes) against the query's `oracleSql` run by
DuckDB on the same generated inputs, compared with the canonicalization of
tools/oracle_check.py. Queries with no oracle must return rows.
lake-rw: the final snapshot against a DuckDB replay of the applied change
sets over the input orders.
metric-stream is checked inside the JVM (against the `Scaling.run` fold)
and only reported here.

Each check returns the names of the operations whose output was wrong.
"""
import glob
import os
import sys

import duckdb
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
from oracle_check import TABLES, rows_of  # noqa: E402


def _table_rows(tbl):
    names = tbl.column_names
    return names, rows_of([tbl.column(i).to_pylist() for i in range(tbl.num_columns)], names)


def batch(checks, input_dir, log):
    """Names of the queries whose output is missing or wrong."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{input_dir}/{t}.parquet')")
    wrong = set(checks["failed"])
    outs = [(name, os.path.join(d, name)) for d in checks["outputs"] for name in checks["names"]]
    for name, out in outs:
        if name in wrong:
            continue
        files = sorted(glob.glob(os.path.join(out, "*.parquet")))
        tbl = pq.read_table(files) if files else None
        sql = checks["oracle"].get(name)
        if tbl is None:
            why = "no output"
        elif sql is None:
            why = None if tbl.num_rows > 0 else "no rows"
        else:
            mine_names, mine = _table_rows(tbl)
            try:
                cur = con.execute(sql)
            except duckdb.Error as e:
                log(f"WRONG RESULT {name}: the oracle failed in DuckDB: {e}")
                wrong.add(name)
                continue
            theirs_names = [d[0] for d in cur.description]
            data = cur.fetchall()
            theirs = rows_of([[r[i] for r in data] for i in range(len(theirs_names))],
                             theirs_names) if data else []
            if name == checks["ref_job"]:
                # the reference job's round-robin repartition drops the order
                mine, theirs = sorted(mine), sorted(theirs)
            if sorted(mine_names) != sorted(n.lower() for n in theirs_names) and \
                    sorted(mine_names) != sorted(theirs_names):
                why = f"columns {sorted(mine_names)} vs {sorted(theirs_names)}"
            elif len(mine) != len(theirs):
                why = f"rowcount {len(mine)} vs oracle {len(theirs)}"
            else:
                bad = sum(a != b for a, b in zip(mine, theirs))
                why = f"{bad}/{len(mine)} rows differ from the oracle" if bad else None
        if why:
            log(f"WRONG RESULT {name} ({os.path.basename(os.path.dirname(out))} pass): {why}")
            wrong.add(name)
    return wrong


def lake(checks, input_dir, log):
    """Replay every applied change over the input orders in DuckDB and
    compare with the final snapshot; a mismatch marks every commit."""
    con = duckdb.connect()
    con.execute(f"""CREATE TABLE t AS SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
                    FROM read_parquet('{input_dir}/orders.parquet')""")
    con.execute(f"CREATE VIEW ups AS SELECT * FROM read_parquet('{checks['upserts']}/*.parquet')")
    con.execute(f"CREATE VIEW dels AS SELECT * FROM read_parquet('{checks['deletes']}/*.parquet')")
    for r in range(checks["rounds"]):
        con.execute(f"""CREATE OR REPLACE TABLE t AS
            SELECT * FROM t WHERE o_orderkey NOT IN (SELECT o_orderkey FROM ups WHERE round = {r})
            UNION ALL
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM ups WHERE round = {r}""")
        con.execute(f"""DELETE FROM t WHERE o_orderkey IN
            (SELECT o_orderkey FROM dels WHERE round = {r})""")
    con.execute(f"CREATE VIEW final AS SELECT * FROM read_parquet('{checks['final']}/*.parquet')")
    missing, extra = (con.execute(q).fetchone()[0] for q in (
        "SELECT count(*) FROM (SELECT * FROM t EXCEPT ALL SELECT * FROM final)",
        "SELECT count(*) FROM (SELECT * FROM final EXCEPT ALL SELECT * FROM t)"))
    if missing or extra:
        log(f"WRONG RESULT lake-rw: final snapshot lacks {missing} replayed rows "
            f"and holds {extra} rows the replay does not")
        return {"commit"}
    return set()


def stream(checks, log):
    if checks["wrong_drains"]:
        log(f"WRONG RESULT metric-stream: {checks['wrong_drains']} of {checks['drains']} "
            "drains differ from the Scaling.run oracle")
        return {"batch"}
    return set()
