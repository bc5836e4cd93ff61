"""Per-query wall-clock profiler for every registered query.

Times each ``queries()`` entry against the noop sink (guide §1.4 — computes
every column of every row, pays no sink cost, prunes nothing) and dumps
``explain("formatted")`` for each plan, so an optimization round can rank
operators by measured cost and diff plan shapes before/after.

Usage:
    python scripts/profile_queries.py [--sf-dir DIR] [--out OUT.json] \
        [--plans PLANS_DIR] [--runs N] [name ...]

One JSON artifact: {"sf_dir": ..., "load_avg": ..., "secs": {name: best},
"runs": {name: [..]}, "errors": {name: msg}}.  Collect-style queries whose
registered callable already materializes internally (streaming harness
entries) are still timed end-to-end: the callable builds + runs the stream,
then the noop write times the returned frame's recompute, so "secs" is
construction + one full computation either way.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=None)
    ap.add_argument("--plans", default=None, help="dir for <name>.txt explain dumps")
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument(
        "--plans-only", action="store_true",
        help="skip the timed noop runs; dump each query's plan at "
             "construction time (pass-caches still registered, so the "
             "dump shows the executed InMemoryRelation shape)",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    try:
        load_avg = round(os.getloadavg()[0], 2)
    except OSError:
        load_avg = None

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    from alphastats_spark.session import build_session

    spark = build_session(
        app_name="alphastats-spark-profile",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "8g"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    from alphastats_spark.operators import ordered
    from alphastats_spark.registry import build_registry

    queries, _ = build_registry()
    names = args.names or sorted(queries)

    # warm: parquet footers + page cache, mirroring bench.py
    for t in ("lineitem", "documents", "embeddings", "events"):
        p = f"{args.sf_dir}/{t}.parquet"
        if os.path.exists(p):
            spark.read.parquet(p).count()

    if args.plans:
        os.makedirs(args.plans, exist_ok=True)

    secs: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    for i, name in enumerate(names):
        fn = queries[name]
        spark.sparkContext.setJobDescription(f"profile:{name}")
        try:
            if args.plans_only:
                mark = ordered.pass_cache_mark()
                df = fn(spark, args.sf_dir)
                if args.plans:
                    with open(os.path.join(args.plans, f"{name}.txt"), "w") as f:
                        f.write(df._sc._jvm.PythonSQLUtils.explainString(
                            df._jdf.queryExecution(), "formatted"))
                ordered.release_pass_caches(mark)
                spark.catalog.clearCache()
                secs[name] = 0.0
                runs[name] = [0.0]
            else:
                rs = []
                for r in range(args.runs):
                    mark = ordered.pass_cache_mark()
                    t0 = time.perf_counter()
                    df = fn(spark, args.sf_dir)
                    df.write.format("noop").mode("overwrite").save()
                    rs.append(round(time.perf_counter() - t0, 3))
                    ordered.release_pass_caches(mark)
                    spark.catalog.clearCache()
                secs[name] = min(rs)
                runs[name] = rs
                if args.plans:
                    with open(os.path.join(args.plans, f"{name}.txt"), "w") as f:
                        f.write(df._sc._jvm.PythonSQLUtils.explainString(
                            df._jdf.queryExecution(), "formatted"))
        except Exception as e:  # noqa: BLE001 — profiling must survive one bad query
            errors[name] = f"{type(e).__name__}: {e}"[:500]
        print(f"[{i + 1}/{len(names)}] {name}: "
              f"{secs.get(name, 'ERR')}", file=sys.stderr, flush=True)
        spark.sparkContext.setJobDescription(None)

    out = {
        "sf_dir": args.sf_dir,
        "load_avg": load_avg,
        "cpus": cpus,
        "secs": secs,
        "runs": runs,
        "errors": errors,
        "total": round(sum(secs.values()), 2),
    }
    line = json.dumps(out)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
