"""r10 experiment: dedup_minhash_lsh self-join -> window rewrite.

The committed plan (plans/r09/dedup_minhash_lsh_before.txt) shows the
minhash derivation (scan -> explode -> 8-minhash agg -> band explode)
executed TWICE: the `_mh_bands JOIN buckets` self-join de-canonicalizes
the shared subtree so ReusedExchange never fires — the same disease
text_tfidf_topk had in r9, fixed the same way: the per-bucket
representative becomes MIN(doc_id) OVER (PARTITION BY band, sig) on the
single derivation, no self-join.

Interleaved best-of-N, row-identity checked (collected rows must be
exactly equal — the rewrite is algebraically the same rep attachment).

No longer reproduces its A/B: the window rewrite has since landed in
``dedup_minhash_lsh`` itself, so the "base" arm now runs the rewrite too
and the script compares the rewrite with itself. The recorded sf0.1
0.75 -> 0.57 s (OPTIMIZATION_r10.md) was measured before the rewrite
landed, against the self-join arm, and git history does not hold that
arm in a runnable form. What still holds is the row-identity check.

Usage: python bench_artifacts/dedup_ab_r10.py [sf_dir] [reps]
"""
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from hive_spark.session import get_session  # noqa: E402
from hive_spark.operators import views  # noqa: E402
from hive_spark.operators.text import _N_MINHASH, _N_BANDS, _TOKS  # noqa: E402
from hive_spark.operators.text import dedup_minhash_lsh  # noqa: E402

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
REPS = int(sys.argv[2]) if len(sys.argv) > 2 else 5
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

spark = get_session(
    app_name="dedup_ab", master=f"local[{CPUS}]", shuffle_partitions=int(CPUS)
)
views(spark, SF)


def variant(spark, sf_dir):
    views(spark, sf_dir)
    mins = ", ".join(
        f"min(hash(concat('s{i}:', tok))) AS h{i}" for i in range(_N_MINHASH)
    )
    bands = ", ".join(
        f"named_struct('band', {b}, 'sig', hash(h{2 * b}, h{2 * b + 1}))"
        for b in range(_N_BANDS)
    )
    return spark.sql(
        f"""
        WITH mh AS (
            SELECT doc_id, b.band, b.sig
            FROM (
                SELECT doc_id, {mins}
                FROM (SELECT doc_id, explode(array_distinct({_TOKS})) AS tok
                      FROM documents)
                GROUP BY doc_id
            ) LATERAL VIEW explode(array({bands})) t AS b
        ),
        with_rep AS (
            SELECT doc_id, MIN(doc_id) OVER (PARTITION BY band, sig) AS rep
            FROM mh
        )
        SELECT doc_id,
               MIN(rep) AS cluster_id,
               CAST(doc_id = MIN(rep) AS BOOLEAN) AS kept
        FROM with_rep
        GROUP BY doc_id
        ORDER BY doc_id
        """
    )


base_rows = dedup_minhash_lsh(spark, SF).collect()
var_rows = variant(spark, SF).collect()
assert base_rows == var_rows, "ROW MISMATCH — variant is wrong"
print(f"row identity OK ({len(base_rows)} rows)")

res = {"base": [], "window": []}
for r in range(REPS):
    for name, fn in (("base", dedup_minhash_lsh), ("window", variant)):
        t0 = time.perf_counter()
        fn(spark, SF).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        res[name].append(dt)
        print(f"rep {r} {name}: {dt:.3f}s", flush=True)
for name, ts in res.items():
    print(f"{name}: best {min(ts):.3f}  all {[round(t, 3) for t in ts]}")
