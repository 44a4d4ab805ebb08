"""Layer probe for the Python worker boundary: what a task pays to cross it.

Three walls on ``get_spark(cores=4)``, each warmed and then timed in
interleaved rounds, reported as medians:

- ``jvm_1row_s``: a 1-row noop write, JVM only (no Python worker);
- ``python_1row_s``: the same 1-row write through a Python UDF;
- ``arrow_4part_s``: an identity ``mapInArrow`` over 4 partitions.

``python_minus_jvm_s`` is the fixed cost of one Python task: worker
hand-off, per-task set-up and the round trip, with no work in it.  Prints
one JSON line.

    python tools/worker_toll.py [--rounds 15]
"""
from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from p_id_text_extraction_spark.session import get_spark  # noqa: E402


def _identity(batches):
    yield from batches


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--rounds", type=int, default=15)
    args = p.parse_args(argv)

    spark = get_spark(app="worker_toll", cores=4, shuffle_partitions=4)
    one = spark.range(0, 1, 1, numPartitions=1)
    plus_one = F.udf(lambda x: x + 1, "long")
    four = spark.range(0, 4000, 1, numPartitions=4)
    jobs = {
        "jvm_1row_s": one,
        "python_1row_s": one.select(plus_one("id")),
        "arrow_4part_s": four.mapInArrow(_identity, four.schema),
    }
    walls: dict[str, list[float]] = {name: [] for name in jobs}
    for r in range(args.rounds + 2):  # two warm rounds: workers up, plans cached
        for name, df in jobs.items():
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            if r >= 2:
                walls[name].append(time.perf_counter() - t0)
    spark.stop()

    out = {name: round(statistics.median(w), 4) for name, w in walls.items()}
    out["python_minus_jvm_s"] = round(out["python_1row_s"] - out["jvm_1row_s"], 4)
    out["rounds"] = args.rounds
    print(json.dumps(out))


if __name__ == "__main__":
    main()
