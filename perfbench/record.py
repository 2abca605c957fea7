"""Re-records `expected.json`: the output digest of every query op.

Invoked as `python3 perfbench/run.py --record` from the repository root, on
a tree whose answers are trusted. For every workload with query ops it

1. runs the harness twice, with different seeds (so a different op order),
   and requires the two digests of each op to agree;
2. cross-checks each op that has a DuckDB oracle (`SparkEntry.oracleSql`)
   the way `dev/compare.py` does: the oracle SQL runs in DuckDB over the
   same fixture parquet, and the rows must match the Spark result as a
   multiset (columns by name, floating values to a relative 1e-9);
3. writes the digests to `expected.json`.

Nothing is written if any op fails a step.
"""
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def canon(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return repr(v)


def same_value(a, b):
    if isinstance(a, float) and isinstance(b, (float, int)) or \
            isinstance(b, float) and isinstance(a, (float, int)):
        if math.isnan(float(a)) or math.isnan(float(b)):
            return math.isnan(float(a)) and math.isnan(float(b))
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same_value(x, y) for x, y in zip(a, b))
    return a == b


def rows_by_name(con, sql):
    rel = con.sql(sql)
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(r[i] for i in order) for r in rel.fetchall()]
    return [cols[i] for i in order], sorted(rows, key=lambda r: tuple(canon(v) for v in r))


def oracle_check(fixture_dir, record_dir):
    """Returns {op: error message} for oracle ops whose rows differ."""
    with open(os.path.join(record_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture_dir}/{t}.parquet')")
    bad = {}
    for name, sql in sorted(oracles.items()):
        try:
            scols, srows = rows_by_name(
                con, f"SELECT * FROM read_parquet('{record_dir}/{name}/*.parquet')")
            ocols, orows = rows_by_name(con, sql)
        except Exception as e:  # an oracle that cannot run is a failed check
            bad[name] = f"could not compare: {e}"
            continue
        if scols != ocols:
            bad[name] = f"columns differ: spark {scols} vs duckdb {ocols}"
        elif len(srows) != len(orows):
            bad[name] = f"row counts differ: spark {len(srows)} vs duckdb {len(orows)}"
        else:
            diff = [i for i, (a, b) in enumerate(zip(srows, orows))
                    if not all(same_value(x, y) for x, y in zip(a, b))]
            if diff:
                bad[name] = f"{len(diff)} rows differ, first: {srows[diff[0]]} vs {orows[diff[0]]}"
    return bad, sorted(oracles)


def main(run):
    cfg = run.load_json("workloads.json")
    cp = run.build()
    digests, failures, checked = {}, {}, []
    for workload, spec in cfg["workloads"].items():
        if not spec.get("ops"):
            continue
        fx = run.fixtures(spec["scale"])
        quick = dict(spec, setup_reps=1, warmup_passes=0, min_passes=1, tables=0)
        record_dir = os.path.join(run.WORK, "record", workload)
        first = run.run_jvm(cp, workload, quick, 1, 0, 0, fx, ["--record-dir", record_dir])
        second = run.run_jvm(cp, workload, quick, 2, 0, 0, fx)
        for name in spec["ops"]:
            a, b = first["digests"][name], second["digests"][name]
            if "error" in a:
                failures[name] = f"threw: {a['error']}"
            elif not run.digest_matches(b, a):
                failures[name] = f"unstable across runs: {a} vs {b}"
            else:
                digests[name] = a
        bad, oracle_ops = oracle_check(fx, record_dir)
        failures.update(bad)
        checked += oracle_ops
    for name, why in sorted(failures.items()):
        run.log(f"record: {name}: {why}")
    if failures:
        run.log("record: expected.json left unchanged")
        return 1
    with open(os.path.join(run.BENCH, "expected.json"), "w") as f:
        json.dump({"duckdb_cross_checked": sorted(checked),
                   "digests": dict(sorted(digests.items()))}, f, indent=1)
        f.write("\n")
    run.log(f"record: wrote {len(digests)} digests, {len(checked)} cross-checked against DuckDB")
    return 0
