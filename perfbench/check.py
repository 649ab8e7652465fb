"""Output check: every query's result (written by the harness's first
warm-up pass) against its `SparkEntry.oracleSql` twin run by DuckDB on
the same generated tables. Values are compared at the arrow level with
the canonicalisation of `tools/compare_strict.py`: types must match and
floats must match bit for bit."""
import glob
import hashlib
import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from compare_strict import TABLES, canon_type, cell_repr  # noqa: E402


def _rows(tab):
    """Rows of `tab` as canonical tuples, columns by name, sorted."""
    cols = [cell_repr(tab.column(c)) for c in sorted(tab.column_names)]
    return sorted(zip(*cols), key=lambda r: tuple(map(str, r)))


def mismatch(duck, out):
    """None when the Spark output under `out` equals the DuckDB result
    `duck`, else a one-line reason."""
    files = sorted(glob.glob(f"{out}/*.parquet"))
    if not files:
        return "no spark output"
    spark = pa.concat_tables([pq.read_table(f) for f in files],
                             promote_options="permissive")
    if sorted(spark.column_names) != sorted(duck.column_names):
        return f"columns spark={spark.column_names} duck={duck.column_names}"
    for c in spark.column_names:
        ts = canon_type(spark.schema.field(c).type)
        td = canon_type(duck.schema.field(c).type)
        if ts != td:
            return f"{c}: type spark={ts} duck={td}"
    if spark.num_rows != duck.num_rows:
        return f"rows spark={spark.num_rows} duck={duck.num_rows}"
    if _rows(spark) != _rows(duck):
        return "values differ"
    return None


def check(data_dir, check_dir, oracle_sql, names):
    """({query: reason} for every query in `names` whose output is wrong
    or which has no oracle, {query: digest of the oracle's result})."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    bad, digests = {}, {}
    for n in names:
        if n not in oracle_sql:
            bad[n] = "no oracle"
            continue
        try:
            duck = con.sql(oracle_sql[n]).arrow()
        except Exception as e:  # noqa: BLE001
            bad[n] = f"duckdb error: {e}"
            continue
        digests[n] = hashlib.sha256(repr(_rows(duck)).encode()).hexdigest()
        why = mismatch(duck, f"{check_dir}/{n}")
        if why:
            bad[n] = why
    con.close()
    return bad, digests
