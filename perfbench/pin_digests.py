"""Compute the canonical-hash digests of the rows-only operator rows.

    python3 perfbench/pin_digests.py --cpus 4 --shuffle-partitions 8
    python3 perfbench/pin_digests.py --cpus 2 --shuffle-partitions 5

Prints ``{name: [rows, sha256]}`` for every operator in
``workloads.PIPELINE_OPS`` that has no DuckDB oracle, over the
generated tables. Pin the result in ``expected.DIGESTS`` only when
the two parallelism settings print the same digests.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import datagen, expected  # noqa: E402
from perfbench.workloads import PIPELINE_OPS, Ctx, spark_env  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--shuffle-partitions", type=int, required=True)
    args = ap.parse_args()
    cache = os.path.join(ROOT, ".perfbench")
    data = datagen.ensure_data(cache)
    work = os.path.join(cache, f"pin-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    os.environ.update(spark_env(Ctx(ROOT, work, data, 0, args.cpus)))

    from crate_spark.queries import load_all
    from crate_spark.session import get_spark

    spark = get_spark("perfbench-pin", cpus=args.cpus, shuffle_partitions=args.shuffle_partitions)
    registry = load_all()
    out = {}
    try:
        for name in PIPELINE_OPS:
            if registry[name].oracle is None:
                df = registry[name].fn(spark, data)
                out[name] = list(expected.digest(df.columns, [tuple(r) for r in df.collect()]))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out, indent=1, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
