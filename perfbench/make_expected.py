"""Regenerate perfbench/expected.json: the output digest of every benchmark
query on the generated inputs, cross-checked against the query's DuckDB
oracle (`oracle_sql` in the registry) wherever one exists.

Run from the repo root after changing the inputs or the query sets:

    python3 perfbench/make_expected.py

It exits non-zero, and writes nothing, if any Spark result disagrees with
its oracle.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]

import datagen  # noqa: E402
from digest import digest_rows, digest_table  # noqa: E402
from workload import WORKLOADS  # noqa: E402


def main() -> int:
    import duckdb

    import bdt_spark.plans as plans
    from bdt_spark.operators.cacheutil import release
    from bdt_spark.session import get_spark

    # Spark's Python workers inherit the environment, not sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TZ"] = "UTC"
    dirs = datagen.ensure(os.path.join(ROOT, ".bench_build", "perfbench"), True)
    spark = get_spark("perfbench_expected")
    out: dict[str, dict] = {}
    bad = []
    for workload, (scale, names) in sorted(WORKLOADS.items()):
        if names is None:
            continue
        con = duckdb.connect()
        con.execute("SET timezone='UTC'")
        for t in datagen.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{dirs[scale]}/{t}.parquet')"
            )
        for name in names:
            spec = plans.get_query(name)
            df = spec.fn(spark, dirs[scale])
            rows_n, digest = digest_rows(df.collect())
            release(df)
            entry = {"scale": scale, "rows": rows_n, "digest": digest,
                     "oracle": "none"}
            if spec.oracle is not None:
                res = con.execute(spec.oracle)
                cols = [d[0] for d in res.description]
                ok = digest_table(cols, res.fetchall()) == (rows_n, digest)
                entry["oracle"] = "match" if ok else "MISMATCH"
                if not ok:
                    bad.append(name)
            out[name] = entry
            print(name, entry, file=sys.stderr)
    spark.stop()
    if bad:
        print(f"oracle mismatch: {bad}", file=sys.stderr)
        return 1
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump({"queries": out}, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
