"""Isolate and time individual query keys per the optimization guide §1.

For each key: run N iterations against the noop sink (times the full
computation of every column without sink cost — guide §1.4), print
min/median, and optionally write the `.explain("formatted")` output to
<plan-dir>/<key>_<tag>.txt so plan claims are reviewable without Spark.

Usage:
  python tools/iso_bench.py KEY [KEY...] [--sf DIR] [--iters N]
                            [--plan-tag before|after --plan-dir DIR]
                            [--count]

--count uses df.count() as the action instead of the noop sink (the
bench.py methodology) for apples-to-apples comparison with bench numbers.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_realtime_spark import registry
from flink_realtime_spark.session import get_spark


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    iters = 3
    plan_tag = None
    plan_dir = None
    use_count = False
    keys: list[str] = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--sf":
            sf_dir = args[i + 1]
            i += 2
        elif a == "--iters":
            iters = int(args[i + 1])
            i += 2
        elif a == "--plan-tag":
            plan_tag = args[i + 1]
            i += 2
        elif a == "--plan-dir":
            plan_dir = args[i + 1]
            i += 2
        elif a == "--count":
            use_count = True
            i += 1
        else:
            keys.append(a)
            i += 1

    if plan_tag and not plan_dir:
        raise SystemExit("--plan-tag needs --plan-dir")
    registry.load_all()
    spark = get_spark("iso-bench")
    for t in ("lineitem", "orders", "events", "documents", "embeddings"):
        spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet")).count()
    for key in keys:
        fn = registry.QUERIES[key]
        # warm the plan shape at sf0.001 like bench.py does
        try:
            fn(spark, "/root/testdata/sf0.001").count()
        except Exception:
            pass
        samples = []
        n = -1
        for _ in range(iters):
            spark.sparkContext.setJobDescription(f"iso:{key}")
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            if use_count:
                n = df.count()
            else:
                df.write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
            spark.sparkContext.setJobDescription(None)
        samples.sort()
        med = samples[len(samples) // 2]
        print(
            f"{key:28s} min {samples[0]:7.3f}  med {med:7.3f} "
            f" max {samples[-1]:7.3f}  ({'count=' + str(n) if use_count else 'noop'})",
            flush=True,
        )
        if plan_tag:
            os.makedirs(plan_dir, exist_ok=True)
            df = fn(spark, sf_dir)
            import contextlib
            import io

            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            with open(f"{plan_dir}/{key}_{plan_tag}.txt", "w") as fh:
                fh.write(buf.getvalue())
    spark.stop()


if __name__ == "__main__":
    main()
