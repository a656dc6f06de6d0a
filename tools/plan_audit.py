"""Plan audit: print the scale-relevant physical-plan facts (pushed
filters, read schema width, exchange/broadcast/codegen counts, Python
worker presence, scans of pickled local collections) for every bench
headline query — the same properties tests/test_plans.py asserts,
surfaced for human review.

    python tools/plan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE
from molgraphdb_spark.plans.explain import plan_summary
from molgraphdb_spark.registry import all_queries
from molgraphdb_spark.session import get_spark


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args.pop(0) if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    names = args or HEADLINE
    spark = get_spark("plan-audit")
    qs = all_queries()
    for name in names:
        fn = qs.get(name)
        if fn is None:
            print(f"{name}: NOT REGISTERED")
            continue
        try:
            s = plan_summary(fn(spark, sf_dir))
        except Exception as ex:  # noqa: BLE001 — audit keeps going
            print(f"{name}: plan error: {ex}")
            continue
        print(
            f"{name}: scans={s['n_scans']} exchanges={s['n_exchanges']} "
            f"bcast_joins={s['n_broadcast_joins']} smj={s['n_sortmerge_joins']} "
            f"python_worker={s['has_python_worker']} local_rdd={s['local_rdd']} "
            f"read_cols={len(s['read_columns'])} "
            f"pushed={'yes' if s['pushed_filters'] else 'no'}"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
