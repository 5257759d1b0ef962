"""Dump .explain("formatted") for named registered queries to files, with
expression ids stripped, as before/after plan-equivalence evidence.

Usage:
    PLANS_ROUND=r18 python tools/explain_to_file.py <sf_dir> <suffix> <query> [query ...]

Writes plans/$PLANS_ROUND/<query>_<suffix>.txt (round defaults to r18)
for each query. Constructing the gate's DataFrame runs any driver-side
preamble the gate performs (eager checkpoints, bounded collects) exactly as
the bench does; the RETURNED frame is explained. Expression ids (``#12``,
``#12L``) and exchange plan ids (``plan_id=4506``) are session counters, not
plan content, so they are removed before writing and two dumps of the same
plan compare byte-for-byte:

    diff plans/r18/<query>_before.txt plans/r18/<query>_after.txt
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_COUNTER_IDS = re.compile(r"#\d+L?|(?<=plan_id=)\d+")


def main() -> None:
    sf_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]

    from hiveka_spark.plans.inspect import formatted_plan
    from hiveka_spark.queries import REGISTRY, _ensure_loaded
    from hiveka_spark.session import get_spark

    _ensure_loaded()
    spark = get_spark("explain-dump")
    round_dir = os.environ.get("PLANS_ROUND", "r18")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", round_dir)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = REGISTRY[name].fn(spark, sf_dir)
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(_COUNTER_IDS.sub("", formatted_plan(df)))
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
