"""Output checks of the benchmark: every operation of a run is compared with
an answer the program under test did not compute.

- cdi_daily: the snapshot and the Hive staging table of every pass against
  the envelope generator's ground truth (row count = distinct ids, delete
  count and digest, order-independent digest over (id, db_type)), daily
  rows per date = valid lines, malformed lines dropped = generated. `val`
  is checked through the `checkToken` each record carries: a digest over
  (id, token) for the ids ingested once. Ids ingested on several dates are
  left out of it, because Runner.update orders only DELETE over INSERT, so
  ties between INSERTs of one id on several days have no defined winner.
- query workloads: each warm-up output against its DuckDB oracle
  (`SparkEntry.oracleSql`, compared the way tools/check.py does) and each
  timed execution's row count against the checked warm-up row count.

Each function returns a list of failure strings; an empty list is a pass.
"""
import math
from pathlib import Path


def canon(rows):
    out = []
    for row in rows:
        vals = []
        for v in row:
            if isinstance(v, float):
                vals.append("NaN" if math.isnan(v) else repr(v))
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return out


def compare_frames(name, got_cols, got_rows, exp_cols, exp_rows):
    """tools/check.py's rule: columns by name, rows sorted, exact values."""
    if sorted(got_cols) != sorted(exp_cols):
        return [f"{name}: columns {sorted(got_cols)} != {sorted(exp_cols)}"]
    g_ix = [got_cols.index(c) for c in sorted(got_cols)]
    e_ix = [exp_cols.index(c) for c in sorted(exp_cols)]
    g = canon([tuple(r[i] for i in g_ix) for r in got_rows])
    e = canon([tuple(r[i] for i in e_ix) for r in exp_rows])
    if len(g) != len(e):
        return [f"{name}: rowcount {len(g)} != {len(e)}"]
    bad = [i for i, (a, b) in enumerate(zip(g, e)) if a != b]
    if bad:
        return [f"{name}: value mismatch at sorted row {bad[0]}: got {g[bad[0]]} exp {e[bad[0]]}"]
    return []


def oracle_check(tables_dir, out_dir, names):
    """Failures per query name for the warm-up outputs under out_dir."""
    import duckdb
    import json

    out_dir = Path(out_dir)
    oracle = json.loads((out_dir / "oracle_sql.json").read_text())
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in Path(tables_dir).glob("*.parquet"):
        con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM read_parquet('{t}')")
    fails = {}
    for name in names:
        res = out_dir / name
        if not res.is_dir():
            fails[name] = [f"{name}: no output"]
            continue
        got = con.execute(f"SELECT * FROM read_parquet('{res}/*.parquet')")
        got_cols = [c[0] for c in got.description]
        got_rows = got.fetchall()
        if name not in oracle:
            fails[name] = [] if got_rows else [f"{name}: no rows and no oracle"]
            continue
        exp = con.execute(oracle[name])
        fails[name] = compare_frames(name, got_cols, got_rows,
                                     [c[0] for c in exp.description], exp.fetchall())
    return fails


def cdi_check(summary, truth):
    """Failures of one cdi_daily pass summary against the generator truth."""
    if "error" in summary:
        return [f'{c["db"]}:{c["collection"]} summary failed: {summary["error"]}'
                for c in truth["collections"]]
    fails = []
    by_coll = {c["collection"]: c for c in truth["collections"]}
    for got in summary["collections"]:
        exp = by_coll[got["collection"]]
        name = f'{got["db"]}:{got["collection"]}'
        for where in ("snapshot", "hive"):
            s = got[where]
            if not s:
                fails.append(f"{name} {where}: no rows")
                continue
            for key, want in (("rows", exp["ids"]), ("deletes", exp["deletes"]),
                              ("id_digest", exp["id_digest"]),
                              ("delete_digest", exp["delete_digest"]),
                              ("token_digest", exp["token_digest"])):
                if str(s[key]) != str(want):
                    fails.append(f"{name} {where} {key}: {s[key]} != {want}")
        for d in exp["dates"]:
            rows = got["daily_rows"].get(d["export_date"], 0)
            if rows != d["valid"]:
                fails.append(f'{name} daily {d["export_date"]}: {rows} rows != {d["valid"]} valid lines')
            if got["malformed"] and got["malformed"].get(d["export_date"]) != d["malformed"]:
                fails.append(f'{name} malformed {d["export_date"]}: '
                             f'{got["malformed"].get(d["export_date"])} != {d["malformed"]}')
    return fails
