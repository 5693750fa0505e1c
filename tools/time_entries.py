"""Best-of-N timing of named registry entries with bench.py's own loop.

Runs ``bench._best_of`` (quiesce, then collect, best of ``runs``) for a
hand-picked entry list in a session that runs nothing else: the
isolated reference for a number the co-resident bench suite reported.
With ``factor`` > 1 the entries run on a ``factor``-times replicated
copy of ``SF_DIR`` (``benchdata.ensure_scaled``: ids are stride-shifted
per replica, so join and group cardinalities scale with the rows),
built once under ``.bench_scale<factor>/`` in the checkout and reused.

Usage (from the repo root):
    python -m tools.time_entries name1,name2[,...] [runs=3] [SF_DIR] [factor=1]

Prints one line per entry: ``<name>: best-of-<runs> <sec>s (<rows> rows)``.
"""

from __future__ import annotations

import os
import sys

import bench
from az_datapipeline_sentiment_analysis_spark.benchdata import ensure_scaled
from az_datapipeline_sentiment_analysis_spark.plans.queries import REGISTRY
from az_datapipeline_sentiment_analysis_spark.session import get_spark


def main() -> None:
    names = sys.argv[1].split(",")
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else bench.SF_DIR
    factor = int(sys.argv[4]) if len(sys.argv) > 4 else 1
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        raise SystemExit(f"unknown entries: {unknown}")
    spark = get_spark("time-entries")
    spark.sparkContext.setLogLevel("ERROR")
    if factor > 1:
        out_dir = os.path.join(bench.REPO, f".bench_scale{factor}")
        sf_dir = ensure_scaled(spark, sf_dir, out_dir, factor=factor)
    for name in names:
        best, rows = bench._best_of(spark, name, sf_dir, runs)
        print(f"{name}: best-of-{runs} {best:.3f}s ({rows} rows)", flush=True)


if __name__ == "__main__":
    main()
