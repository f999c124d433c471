"""Driver-contract replica: fresh-import __spark_entry__, plain session,
run every queries() entry vs its oracle_sql() in DuckDB.

Round-2 hardening: the driver hashes PANDAS-converted frames (duck
``.df()`` vs spark ``toPandas()``), not Python values — DuckDB renders
DECIMAL / HUGEINT as float64 while Spark yields object-Decimals / int64,
so string forms diverge even when every value is identical
(round 1's driver run: 21/50 failed exactly this way). This replica
therefore compares the *pandas string forms* after column-name sort + row
sort — the representation the driver actually hashes. Calibrated against
that run's report (`git show ebbee1c:CORRECTNESS_r01.json`): on the 50
driver-sampled queries it must reproduce the driver's pass/fail split
exactly.

Usage: python scripts/driver_replica.py [sf_dir] [query_prefix...]
"""
import importlib.util
import sys
import time

import os
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
spec = importlib.util.spec_from_file_location("__spark_entry__", os.path.join(_REPO, "__spark_entry__.py"))
mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(mod)

from pyspark.sql import SparkSession

# plain session (the driver's is foreign — ensure_engine must adapt it),
# but scratch goes somewhere durable: /tmp is tmpfiles-purged on this
# host mid-run, which kills every shuffle read after the purge (observed
# r7: 220 spurious BADs from one purge event)
_scratch = os.path.expanduser("~/.spark_local")
os.makedirs(_scratch, exist_ok=True)
spark = (
    SparkSession.builder.master("local[8]")
    .appName("driver_replica")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.local.dir", _scratch)
    .getOrCreate()
)

from tests.oracle_check import duck


def pandas_rows(pdf):
    """Column-name-sorted, row-sorted, stringified cells — the driver's
    hashed representation (approximated as str() of each pandas cell)."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    return sorted(
        tuple(str(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    )


def normalize_units(pdf):
    """Unify datetime RESOLUTION across transports: Spark's Arrow path
    yields datetime64[ns], DuckDB's .df() yields datetime64[us] for the
    same logical DATE/TIMESTAMP. The unit is a transport artifact, not a
    logical-type difference — normalize to [us] (every engine value is
    at most microsecond-precise) so the dtype check flags only REAL
    mismatches (int vs float, object vs datetime, ...)."""
    for c in pdf.columns:
        if str(pdf[c].dtype).startswith("datetime64[ns"):
            pdf[c] = pdf[c].astype(str(pdf[c].dtype).replace("[ns", "[us"))
    return pdf


SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
prefixes = sys.argv[2:]
qs, os_ = mod.queries(), mod.oracle_sql()
if prefixes:
    qs = {k: v for k, v in qs.items() if any(k.startswith(p) for p in prefixes)}
bad, n_match, n_rows_only, dtype_warn = [], 0, 0, []
status: dict[str, str] = {}  # per-query verdict for the JSON artifact
t0 = time.time()
for name, fn in sorted(qs.items()):
    try:
        df = fn(spark, SF)
        spdf = normalize_units(df.toPandas())
        if name not in os_:
            n_rows_only += 1
            status[name] = f"rows-only ({len(spdf)} rows)"
            print(f"{name}: ROWS-ONLY ({len(spdf)} rows)", flush=True)
            continue
        opdf = normalize_units(duck(SF).execute(os_[name]).df())
        if sorted(spdf.columns) != sorted(opdf.columns):
            bad.append(name)
            status[name] = "bad: schema mismatch"
            print(f"{name}: SCHEMA MISMATCH {sorted(spdf.columns)} vs {sorted(opdf.columns)}", flush=True)
            continue
        sdt = {c: str(spdf[c].dtype) for c in spdf.columns}
        odt = {c: str(opdf[c].dtype) for c in opdf.columns}
        if sdt != odt:
            diff = {c: (sdt[c], odt[c]) for c in sdt if sdt[c] != odt[c]}
            dtype_warn.append(name)
            print(f"{name}: DTYPE WARN {diff}", flush=True)
        srows, orows = pandas_rows(spdf), pandas_rows(opdf)
        if srows != orows:
            bad.append(name)
            status[name] = "bad: value mismatch"
            nshow = 0
            for a, b in zip(srows, orows):
                if a != b and nshow < 2:
                    print(f"{name}: STR MISMATCH\n  spark : {a}\n  duckdb: {b}", flush=True)
                    nshow += 1
            if len(srows) != len(orows):
                status[name] = f"bad: rowcount {len(srows)} vs {len(orows)}"
                print(f"{name}: ROWCOUNT {len(srows)} vs {len(orows)}", flush=True)
        else:
            n_match += 1
            status[name] = "match"
    except Exception as e:
        bad.append(name)
        status[name] = f"bad: {type(e).__name__}: {str(e)[:120]}"
        print(f"{name}: ERROR {type(e).__name__}: {str(e)[:200]}", flush=True)

print(f"\n{n_match} MATCH, {n_rows_only} rows-only, {len(bad)} BAD, "
      f"{len(dtype_warn)} dtype-warn in {time.time()-t0:.0f}s")
print("BAD:", bad)
print("DTYPE_WARN:", dtype_warn)

# optional committed artifact (VERDICT r2 "next" #5): per-query verdicts
# so the next judge can trust the unsampled rows without re-running
out_path = os.environ.get("REPLICA_OUT")
if out_path:
    import json

    with open(out_path, "w") as f:
        json.dump(
            {
                "sf_dir": SF,
                "n_match": n_match,
                "n_rows_only": n_rows_only,
                "n_bad": len(bad),
                "dtype_warn": dtype_warn,
                "elapsed_sec": round(time.time() - t0, 1),
                "results": status,
            },
            f,
            indent=1,
            sort_keys=True,
        )
    print("wrote", out_path)

if not prefixes:
    res = mod.entry(spark)
    print("entry rows:", len(res.collect()), "schema:", [f.name for f in res.schema.fields])
