"""Output checks against graft.SparkEntry.oracleSql, run in DuckDB.

Each oracle is an SQL derivation of a query's result made apart from the
program, over the same fixture parquet. The program's output (parquet written
by the benchmark) must equal it as a multiset of rows: same column names,
integer columns on both sides where either is integer, and no row left over
on either side after EXCEPT ALL. The oracle's own result depends only on the
SQL and the fixtures, so it is cached under a key of both.
"""
import glob
import hashlib
import os

INTEGER = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
           "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT", "UHUGEINT")
FLOATING = ("FLOAT", "DOUBLE", "REAL")


def _kind(t):
    t = t.upper()
    if t in INTEGER:
        return "int"
    if t in FLOATING:
        return "float"
    return t


def _connect():
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads=2; SET memory_limit='2GB'; SET preserve_insertion_order=false;")
    return con


def _fixture_stamp(fixtures):
    marks = sorted(glob.glob(os.path.join(fixtures, "_COMPLETE*")))
    return open(marks[0]).read() if marks else ""


def compare(con, got_dir, exp_relation):
    """(ok, detail) for the parquet under got_dir against a DuckDB relation name."""
    files = glob.glob(os.path.join(got_dir, "*.parquet"))
    if not files:
        return False, f"no output under {got_dir}"
    con.execute(f"CREATE OR REPLACE TEMP VIEW got AS SELECT * FROM read_parquet('{got_dir}/*.parquet')")
    gt = {r[0]: r[1] for r in con.execute("DESCRIBE got").fetchall()}
    et = {r[0]: r[1] for r in con.execute(f"DESCRIBE {exp_relation}").fetchall()}
    if sorted(gt) != sorted(et):
        return False, f"columns {sorted(gt)} != {sorted(et)}"
    kinds = [c for c in gt if {_kind(gt[c]), _kind(et[c])} == {"int", "float"}]
    if kinds:
        return False, f"integer vs floating columns: {kinds}"
    cols = ", ".join(f'"{c}"' for c in sorted(gt))
    n_got = con.execute("SELECT count(*) FROM got").fetchone()[0]
    n_exp = con.execute(f"SELECT count(*) FROM {exp_relation}").fetchone()[0]
    if n_got != n_exp:
        return False, f"{n_got} rows, oracle has {n_exp}"
    extra = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM got EXCEPT ALL "
                        f"SELECT {cols} FROM {exp_relation})").fetchone()[0]
    if extra:
        return False, f"{extra} of {n_got} rows differ from the oracle"
    return True, f"{n_got} rows"


def check_all(oracles, oracle_fixtures, fixtures, cache_dir):
    """{key: {"ok", "checked", "detail"}} for every {key: {"output", "sql"}}."""
    out = {}
    if not oracles:
        return out
    os.makedirs(cache_dir, exist_ok=True)
    stamp = _fixture_stamp(fixtures)
    con = _connect()
    try:
        for key, o in sorted(oracles.items()):
            sql = o["sql"].replace(oracle_fixtures, fixtures)
            h = hashlib.sha256((sql + "\n" + stamp).encode()).hexdigest()[:20]
            cached = os.path.join(cache_dir, f"{key}-{h}.parquet")
            try:
                if not os.path.exists(cached):
                    tmp = cached + ".tmp"
                    con.execute(f"COPY ({sql}) TO '{tmp}' (FORMAT PARQUET)")
                    os.replace(tmp, cached)
                con.execute(f"CREATE OR REPLACE TEMP VIEW exp AS SELECT * FROM read_parquet('{cached}')")
                ok, detail = compare(con, o["output"], "exp")
                out[key] = {"ok": ok, "checked": True, "detail": detail}
            except Exception as e:  # an oracle that cannot run checks nothing
                out[key] = {"ok": False, "checked": False, "detail": f"oracle error: {e}"}
    finally:
        con.close()
    return out
