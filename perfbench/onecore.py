"""Single-threaded baseline: the backfill's silver and gold builds at local[1].

Usage: python3 perfbench/onecore.py BRONZE_DIR OUT_DIR

Run by the traced benchmark run as a separate process, with the scratch
directories already pinned in its environment. An untimed build of the
same bronze precedes the timed one, as in the main process.
Prints one JSON line: {"build_s": <seconds>}.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import medallion  # noqa: E402
from spans import NullTracer  # noqa: E402


def main(bronze_dir: str, out: str) -> None:
    spark = medallion.start_spark(1, out)
    try:
        tracer = NullTracer()
        medallion.build(spark, tracer, bronze_dir, f"{out}/warm_silver", f"{out}/warm_gold")
        build_s = medallion.build(spark, tracer, bronze_dir, f"{out}/silver", f"{out}/gold")
    finally:
        medallion.stop_spark(spark)
    print(json.dumps({"build_s": build_s}))


if __name__ == "__main__":
    main(*sys.argv[1:3])
