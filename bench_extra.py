"""Round-7 optimization harness (guide §1): per-query isolation + plans.

NOT part of the frozen measurement contract (bench.py is the driver's
artifact). This file exists so the optimization round can:

  * dump `.explain("formatted")` for every bench query  → plans/r07/,
    followed by one `## localCheckpoint k` section per materialization
    the query runs while it is built (the plan each checkpoint cuts off,
    which `explain()` of the checkpointed frame shows only as
    `Scan ExistingRDD`)
  * time any subset of queries in isolation with the noop sink, with
    host-calibration brackets, without paying the full 27-query sweep

Usage:
    python bench_extra.py --plans [--out plans/r07 --suffix _before]
    python bench_extra.py --time extract_synth dup_clusters --runs 3
    python bench_extra.py --time-all --runs 2
"""

from __future__ import annotations

import argparse
import json
import os
import re
import time

from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

import bench
from bench import _synth_corpus_path, host_calibration


# expression ids, plan ids and RDD ids count up per session, so they
# differ between two runs of one commit
_SESSION_IDS = re.compile(r"(#|plan_id=|RDD\[)\d+")


def formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def normalized(plan: str) -> str:
    return _SESSION_IDS.sub(r"\1", plan)


def capture(closure):
    """The DataFrame a ``bench.build_queries`` closure materializes, taken
    lazily, plus the formatted plan of every ``localCheckpoint`` the
    closure runs, in call order. ``bench._materialize`` and
    ``DataFrame.localCheckpoint`` are swapped for recorders while the
    closure runs, so plan dumps cannot drift from what the bench times."""
    got, cut = [], []
    real = bench._materialize
    real_cp = ClassicDataFrame.localCheckpoint

    def recording_checkpoint(self, *args, **kwargs):
        cut.append(formatted_plan(self))
        return real_cp(self, *args, **kwargs)

    bench._materialize = got.append
    ClassicDataFrame.localCheckpoint = recording_checkpoint
    try:
        closure()
    finally:
        bench._materialize = real
        ClassicDataFrame.localCheckpoint = real_cp
    (df,) = got
    return df, cut


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--plans", action="store_true")
    p.add_argument("--out", default="plans/r07")
    p.add_argument("--suffix", default="_before")
    p.add_argument("--time", nargs="*", default=None)
    p.add_argument("--time-all", action="store_true")
    p.add_argument("--runs", type=int, default=2)
    p.add_argument("--only", nargs="*", default=None,
                   help="restrict --plans to these query names")
    args = p.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf_name = sf_dir.rstrip("/").split("/")[-1]
    n_synth = {"sf0.001": 100, "sf0.01": 400, "sf0.1": 5000}.get(sf_name, 5000)
    synth_path = _synth_corpus_path(n_synth, seed=42)

    from pdftableextractor_spark.session import build_session

    spark = build_session(app_name="bench-extra", master=f"local[{cpus}]")
    queries = bench.build_queries(spark, sf_dir, synth_path)

    if args.plans:
        os.makedirs(args.out, exist_ok=True)
        names = args.only or list(queries)
        for name in names:
            df, cut = capture(queries[name])
            path = os.path.join(args.out, f"{name}{args.suffix}.txt")
            with open(path, "w") as f:
                f.write(normalized(formatted_plan(df)))
                for k, plan in enumerate(cut, 1):
                    f.write(f"\n## localCheckpoint {k}\n{normalized(plan)}")
            print("wrote", path)

    names = list(queries) if args.time_all else (args.time or [])
    if names:
        cal_pre = host_calibration()
        timings: dict[str, list[float]] = {}
        for name in names:
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            ts = []
            for _ in range(args.runs):
                t0 = time.time()
                queries[name]()
                ts.append(round(time.time() - t0, 3))
            timings[name] = ts
            spark.sparkContext.setJobDescription(None)
        print(json.dumps({
            "timings": timings,
            "min": {k: min(v) for k, v in timings.items()},
            "pre": cal_pre,
            "post": host_calibration(),
        }))
    spark.stop()


if __name__ == "__main__":
    main()
