"""Plan-feature inventory over EVERY registry query: counts of exchanges /
join strategies / cartesians / window nodes and pushed-filter presence from
`explain("formatted")` at sf0.001 — the automated form of the per-query
plan audits (SURVEY §4). One JSON line per run.

Usage: PYTHONPATH=/root/repo python tools/planreport.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from query_engine_spark.session import get_spark
    from query_engine_spark import registry

    spark = get_spark("planreport")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, dict] = {}
    for name, spec in registry.REGISTRY.items():
        try:
            df = spec.fn(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            p = buf.getvalue()
            out[name] = {
                "exchanges": len(re.findall(r"\(\d+\) Exchange", p)),
                "smj": len(re.findall(r"\(\d+\) SortMergeJoin", p)),
                "bhj": len(re.findall(r"\(\d+\) BroadcastHashJoin", p)),
                "bnlj": len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p)),
                "cartesian": len(re.findall(r"\(\d+\) CartesianProduct", p)),
                "windows": len(re.findall(r"\(\d+\) Window", p)),
                "generates": len(re.findall(r"\(\d+\) Generate", p)),
                "pushed_filters": "PushedFilters: [" in p and "PushedFilters: []" not in p,
                "codegen": "codegen id" in p,
            }
        except Exception as e:  # driver-loop queries (bpe_train) plan per-round
            out[name] = {"error": type(e).__name__}
    print(json.dumps({"sf_dir": sf_dir, "plans": out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
