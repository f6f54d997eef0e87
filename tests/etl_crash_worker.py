"""Subprocess worker for the lake-swap crash-window chaos test.

Runs the streaming reference ETL (run_etl_stream) with the
SPARK_GRAFT_ETL_CRASH hook armed for batch ≥ 1 — the process hard-exits
(os._exit(137), a power-cut stand-in) inside publish_lake_version at the
named point.  Batch 0 publishes normally first, so the crash always
happens with a pre-existing `current` to clobber.

Usage: python etl_crash_worker.py <sf_dir> <lake> <wm> <ckpt> <crash_point>
Exit code 137 = crashed at the hook (expected); 0 = drained without
crashing (the parent treats that as a skip); anything else = real error.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    sf_dir, lake, wm, ckpt, crash_point = sys.argv[1:6]

    # arm the hook only from the SECOND published batch onward: the env
    # var is read inside publish_lake_version, so gate it with a counter
    # by monkey-patching the hook check around the real publish
    from build_pipeline_with_apache_beam_spark.plans import etl

    real_publish = etl.publish_lake_version
    state = {"published": 0}

    def gated_publish(lake_dir: str, tmp: str) -> None:
        if state["published"] >= 1:
            os.environ["SPARK_GRAFT_ETL_CRASH"] = crash_point
        real_publish(lake_dir, tmp)
        state["published"] += 1

    etl.publish_lake_version = gated_publish

    from build_pipeline_with_apache_beam_spark.session import get_spark

    spark = get_spark("etl-crash-worker")
    etl.run_etl_stream(spark, sf_dir, lake, wm, ckpt, tail_cap=1)
    print("drained without crashing", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
