"""One-time input build for a checkout: the document pool, its gold
triples and the pristine 8-batch streaming store.

Run by ``run.py`` in its own process (with the benchmark's environment)
when the cache lacks them:

    python3 perfbench/build.py --cache perfbench/.cache
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path.cwd()))
sys.path.insert(0, str(Path(__file__).resolve().parent))

import inputs  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cache", required=True)
    args = ap.parse_args()
    from llm_information_extraction_spark.session import get_spark

    cache = Path(args.cache).resolve()
    spark = get_spark(app_name="perfbench-build")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        inputs.build_pool(spark, cache)
        inputs.build_stream_history(spark, cache)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
