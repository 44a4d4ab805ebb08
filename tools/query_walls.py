"""Warm + timed walls of named queries over one scale-factor directory.

For each round and each named query of ``plans/queries.QUERIES``: one warm
``noop`` write, one timed ``noop`` write, then ``unpersist_tracked()`` so
no round reuses another's operator caches (bench.py's ``time_queries``
pattern, for any query).  Prints one JSON line: the session's cores and
rounds, and per query its walls and their median.

    python tools/query_walls.py /path/to/sf0.1 doc_winnow dedup_simhash
    python tools/query_walls.py /path/to/sf0.1 --rounds 3   # every query

The box drifts over minutes, so compare two checkouts by running the tool
alternately in each (one round a run), never in two separate blocks.
"""
from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from p_id_text_extraction_spark.plans.queries import QUERIES  # noqa: E402
from p_id_text_extraction_spark.session import get_spark  # noqa: E402
from p_id_text_extraction_spark.util import unpersist_tracked  # noqa: E402


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("sf_dir")
    p.add_argument("queries", nargs="*", help="names in QUERIES (default: all)")
    p.add_argument("--rounds", type=int, default=1)
    p.add_argument("--cores", type=int, default=4)
    args = p.parse_args(argv)
    names = args.queries or list(QUERIES)
    unknown = sorted(set(names) - set(QUERIES))
    if unknown:
        p.error(f"unknown queries: {', '.join(unknown)}")
    spark = get_spark(app="query_walls", cores=args.cores)
    walls: dict[str, list[float]] = {name: [] for name in names}
    for _ in range(args.rounds):
        for name in names:
            QUERIES[name](spark, args.sf_dir).write.format("noop").mode("overwrite").save()
            t0 = time.perf_counter()
            QUERIES[name](spark, args.sf_dir).write.format("noop").mode("overwrite").save()
            walls[name].append(round(time.perf_counter() - t0, 4))
            unpersist_tracked()
    spark.stop()
    print(json.dumps({"sf_dir": args.sf_dir, "cores": args.cores, "rounds": args.rounds,
                      "queries": {name: {"median": round(statistics.median(w), 4), "walls": w}
                                  for name, w in walls.items()}}))


if __name__ == "__main__":
    main()
