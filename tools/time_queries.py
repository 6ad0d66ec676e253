"""Time named queries with bench.py's exact methodology (min-of-two,
noop sink, build+execute timed, clearCache between reps).

Optimization-round A/B helper: run once on the old code, once on the
new, same session config as bench.py.

Usage:
  python tools/time_queries.py <query_id> [query_id...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), REPS (default 2).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    names = sys.argv[1:]
    reps = int(os.environ.get("REPS", "2"))
    from bench import _warmup, time_once

    from getdbt_spark.queries import load_all
    from getdbt_spark.session import get_spark

    load_all()
    spark = get_spark(app_name="time_queries")
    _warmup(spark, SF)
    out = {
        name: round(min(time_once(spark, SF, name) for _ in range(reps)), 3)
        for name in names
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
