#!/usr/bin/env python
"""Registry-wide lint: no partition-less Window over a growing frame.

Thin CLI over `commercial_rfp_data_pipeline_spark.plans.lint` (see its
module docstring for the bounded-construction rules). The same check
runs in pytest as
`tests/test_plan_shapes.py::test_no_unbounded_global_windows`.

Usage: python scripts/lint_global_windows.py [--sf DIR] [query ...]
Exit 0 = clean; exit 1 = violations (printed).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from commercial_rfp_data_pipeline_spark.plans.lint import (
        global_window_violations,
    )
    from commercial_rfp_data_pipeline_spark.registry import all_queries
    from commercial_rfp_data_pipeline_spark.session import get_spark

    spark = get_spark()
    qs = all_queries()
    names = args.names or sorted(qs)
    n_bad = 0
    for name in names:
        try:
            df = qs[name](spark, args.sf)
            viol = global_window_violations(df)
        except Exception as e:  # plan build failure is its own failure
            viol = [f"plan build failed: {e!r:.200}"]
        if viol:
            n_bad += 1
            for v in viol:
                print(f"FAIL {name}: {v}")
    print(f"{len(names) - n_bad}/{len(names)} clean")
    return 1 if n_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
