"""Dump .explain("formatted") for registry queries to files.

Usage:
    python scripts/capture_plans.py OUTDIR SUFFIX name [name ...]

Writes OUTDIR/<name>_<SUFFIX>.txt for each named query. The plan is
the pre-execution plan (AdaptiveSparkPlan isFinalPlan=false) — shape,
join strategies, exchanges and pushed filters are all visible there;
queries that internally materialize (localCheckpoint) execute those legs
as a side effect of building the DataFrame.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

USAGE = "usage: python scripts/capture_plans.py OUTDIR SUFFIX name [name ...]"


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit(USAGE)
    outdir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)

    from fraudcrawler_spark.registry import queries
    from fraudcrawler_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    spark = get_spark("fc_plans", cores=cpus,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    qs = queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
