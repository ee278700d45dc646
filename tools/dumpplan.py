"""Dump a query's physical plan to plans/<round>/<name>_<tag>.txt.

The optimization round's evidence contract: for every query touched,
commit the `.explain("formatted")` output BEFORE and AFTER the change
(plans/<round>/<query>_before.txt / _after.txt) so plan-shape claims
(exchange counts, join strategies, PushedFilters, Python-boundary
nodes) are checkable without running Spark.

Each dump carries BOTH plan views:
  * the formatted pre-execution plan (`explain("formatted")` — with
    AQE on this is the initial plan, isFinalPlan=false), and
  * the EXECUTED final AQE plan (the tree that actually ran, post
    broadcast-conversion/coalescing — the same source planaudit.py
    reads), obtained by collecting the DataFrame's own QueryExecution.

Usage: python tools/dumpplan.py <tag> <query> [<query> ...] [--sf=DIR] [--round=rNN]
       python tools/dumpplan.py before customer_rfm_segments
(Flags take the = form only: '--sf DIR' would read DIR as a query name.)
"""

from __future__ import annotations

import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")


def main() -> int:
    args = [
        a
        for a in sys.argv[1:]
        if not (a.startswith("--sf") or a.startswith("--round"))
    ]
    sf_dir = "/root/testdata/sf0.1"
    round_dir = "r17"
    for a in sys.argv[1:]:
        if a.startswith("--sf="):
            sf_dir = a.split("=", 1)[1]
        elif a.startswith("--round="):
            round_dir = a.split("=", 1)[1]
    if len(args) < 2:
        print(__doc__)
        return 2
    tag, names = args[0], args[1:]

    from bigdata_riveranalysis_spark.plans.registry import REGISTRY
    from bigdata_riveranalysis_spark.session import get_spark

    spark = get_spark("dumpplan")
    outdir = os.path.join(_REPO, "plans", round_dir)
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        q = REGISTRY[name]
        spark.sparkContext.setJobDescription(f"dumpplan:{name}")
        df = q.fn(spark, sf_dir)
        formatted = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            df._jdf.queryExecution(), "formatted"
        )
        df.collect()
        executed = df._jdf.queryExecution().executedPlan().toString()
        final = executed.split("== Initial Plan ==")[0]
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(
                f"# {name} @ {sf_dir} — dumped by tools/dumpplan.py\n"
                f"\n== explain('formatted') (pre-execution; AQE initial plan) ==\n\n"
                + formatted
                + "\n\n== EXECUTED final AQE plan (what actually ran) ==\n\n"
                + final
            )
        print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
