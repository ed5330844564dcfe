"""Per-query optimization harness (guide §1): time one or more registry
queries in isolation against the noop sink (computes every column, no
sink cost, full plan visible) and dump ``.explain("formatted")`` to
``plans/r14/<name>_<tag>.txt``.

Usage:
  python tools/profile_query.py <query> [<query> ...] [--tag before]
      [--runs 3] [--sf /root/testdata/sf0.1] [--no-plan] [--topandas]

Timing methodology: one untimed warm-up run (JVM/codegen/footer caches),
then ``--runs`` timed runs; prints each run and the median. The noop
sink replaces the bench's ``toPandas`` so the number isolates the
computation (bench numbers stay the comparison record; these are the
optimization loop's numbers). ``--topandas`` times the bench action
instead for an apples-to-bench check.

Each timed run also prints the classes Janino compiled during it
(``compiled=``). The session caches generated classes, so a nonzero
count on a repeat means the cache evicted them. Repeating one query in
isolation cannot show eviction caused by OTHER queries: a suite that
interleaves many queries can overflow the cache where this loop never
does, so a suite-level recompile cost is invisible here. Read the
counts from a run over the whole mix (``/json/runtime``'s ``codegen``
or :func:`deva_spark.session.codegen_stats` around each pass) for that.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from deva_spark.session import codegen_stats, get_spark  # noqa: E402
from deva_spark import queries as Q  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--tag", default=None, help="plan file suffix (e.g. before)")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--no-plan", action="store_true")
    ap.add_argument("--topandas", action="store_true")
    ap.add_argument("--plans-dir", default="r15", help="plans/<dir> for dumps")
    args = ap.parse_args()

    spark = get_spark("profile-query")
    # match bench: artifacts staged before any timing
    staging = Q.stage_artifacts(spark, args.sf)
    built = {k: v for k, v in staging.items() if v}
    if built:
        print(f"# staged: {built}", file=sys.stderr)
    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        args.plans_dir,
    )
    os.makedirs(plans_dir, exist_ok=True)

    for name in args.names:
        fn = Q.SPARK_QUERIES[name]
        spark.sparkContext.setJobDescription(f"profile: {name}")

        def action() -> None:
            df = fn(spark, args.sf)
            if args.topandas:
                df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()

        action()  # warm-up, untimed
        times, compiled = [], []
        for _ in range(args.runs):
            spark.catalog.clearCache()
            c0 = codegen_stats(spark)["classes_compiled"]
            t0 = time.perf_counter()
            action()
            times.append(round(time.perf_counter() - t0, 3))
            compiled.append(codegen_stats(spark)["classes_compiled"] - c0)
        times_s = sorted(times)
        med = times_s[len(times_s) // 2]
        print(
            f"{name}: median={med}s runs={times} compiled={compiled} "
            f"load={os.getloadavg()[0]:.1f}"
        )
        if not args.no_plan:
            plan = fn(spark, args.sf)._sc._jvm.PythonSQLUtils.explainString(
                fn(spark, args.sf)._jdf.queryExecution(), "formatted"
            )
            suffix = f"_{args.tag}" if args.tag else ""
            path = os.path.join(plans_dir, f"{name}{suffix}.txt")
            with open(path, "w") as fh:
                fh.write(plan)
            print(f"  plan -> {path}", file=sys.stderr)
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
