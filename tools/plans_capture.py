"""Capture .explain("formatted") for every headline bench query.

Writes plans/<tag>/<query>_<suffix>.txt for each entry of bench.HEADLINE,
built exactly the way bench._measure_spark builds them (same session
knobs, same WvletSession).  The judge reads these files to check plan
claims (Exchange count, join strategy, PushedFilters, Python nodes), so
they must come from the real bench session, not an ad-hoc one.

Usage: python tools/plans_capture.py <out_dir> <suffix> [sf_dir] [query ...]
e.g.   python tools/plans_capture.py plans/r09 before /root/testdata/sf0.1
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)


def main() -> None:
    out_dir = sys.argv[1]
    suffix = sys.argv[2]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    only = set(sys.argv[4:])

    import bench
    from wvlet_spark import WvletSession
    from wvlet_spark.ops import entry_queries
    from wvlet_spark.suite import SUITE

    spark = bench._make_spark(sf_dir)
    ws = WvletSession(spark, table_dir=sf_dir, test_mode=False)
    ext = entry_queries()

    os.makedirs(out_dir, exist_ok=True)
    names = [n for n in bench.HEADLINE if not only or n in only]
    names += sorted(n for n in only
                    if n not in bench.HEADLINE and (n in SUITE or n in ext))
    # build with the final-sort lazy checkpoint DISABLED so the captured
    # plan shows the real compute subtree instead of a Scan ExistingRDD
    # stub (util.sort_once; execution-equivalence is pytest-pinned —
    # same mechanism the plan-shape tests use).  A header line records
    # the flag so the file is honest about what it shows.
    try:
        from wvlet_spark.ops import util as _util
        _util.SORT_ONCE_CHECKPOINT = False
        note = ("-- captured with util.SORT_ONCE_CHECKPOINT=False: the "
                "final-sort lazy checkpoint is a results-identical "
                "execution strategy (pytest-pinned) that would otherwise "
                "hide the compute subtree behind a Scan ExistingRDD\n")
    except Exception:
        note = ""
    try:
        for name in names:
            if name in SUITE:
                df = ws.run(SUITE[name][0])
            else:
                df = ext[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            path = os.path.join(out_dir, f"{name}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(note + plan)
            print(f"wrote {path} ({len(plan)} bytes)")
    finally:
        try:
            _util.SORT_ONCE_CHECKPOINT = True
        except Exception:
            pass
    spark.stop()


if __name__ == "__main__":
    main()
