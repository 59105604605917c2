"""Checks query outputs against the engine's DuckDB oracles.

Each output directory holds one parquet file written by the JVM; the
oracle SQL comes from `SparkEntry.oracleSql` (dumped as oracle_sql.json
next to the outputs). Rows are compared as sorted multisets with doubles
rounded to 4 places, the way the repository's tools/selfcheck.py does,
except that two rounded doubles may differ by one unit in the 4th place:
both engines round sums whose exact value can sit on a half-unit tie
(money columns have 2 decimals), and the summation order decides the side.
q65 (an HLL estimate, no exact oracle) is checked through its bridge:
every estimate within 10% of DuckDB's exact count, as q65b asserts.
"""
import glob
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
BRIDGED = {"q65_approx_distinct"}


def norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 4)
    return v


def rows(df, cols):
    def key(r):
        return (repr([v for v in r if not isinstance(v, float)]),
                [v for v in r if isinstance(v, float)])
    return sorted((tuple(norm(v) for v in r) for r in df[cols].itertuples(index=False)), key=key)


def same(got, exp):
    if len(got) != len(exp):
        return False
    for g, e in zip(got, exp):
        for x, y in zip(g, e):
            if isinstance(x, float) and isinstance(y, float):
                if abs(x - y) > 1.01e-4:
                    return False
            elif x != y:
                return False
    return True


def check_q65(con, got):
    exact = con.sql("""SELECT o_orderpriority, count(DISTINCT o_custkey) AS exact
                       FROM orders GROUP BY 1""").df()
    merged = got.merge(exact, on="o_orderpriority", how="outer")
    if len(merged) != len(exact) or merged["approx_cust"].isna().any():
        return False, f"groups differ: {len(got)} vs {len(exact)}"
    off = merged[(merged["approx_cust"] - merged["exact"]).abs() * 10 > merged["exact"]]
    return off.empty, f"{len(off)} estimates outside 10% of the exact count"


def check(data_dir, out_dir):
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    keys = sorted(set(oracle) | {os.path.basename(d) for d in glob.glob(f"{out_dir}/q*")})
    results = []
    for key in keys:
        files = glob.glob(f"{out_dir}/{key}/*.parquet")
        if not files:
            results.append({"key": key, "ok": False, "detail": "no output"})
            continue
        got = con.sql(f"SELECT * FROM '{files[0]}'").df()
        if key in BRIDGED:
            ok, detail = check_q65(con, got)
        elif key not in oracle:
            ok, detail = False, "no oracle"
        else:
            try:
                exp = con.sql(oracle[key]).df()
            except duckdb.Error as e:
                results.append({"key": key, "ok": False, "detail": f"oracle error: {e}"})
                continue
            gcols, ecols = sorted(got.columns), sorted(exp.columns)
            if gcols != ecols:
                ok, detail = False, f"columns differ: {gcols} vs {ecols}"
            else:
                g, e = rows(got, gcols), rows(exp, gcols)
                ok = same(g, e)
                detail = "" if ok else f"rows {len(g)} vs {len(e)}"
        results.append({"key": key, "ok": ok, "rows": len(got), "detail": detail})
    con.close()
    return results
