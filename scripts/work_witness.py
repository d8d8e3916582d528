"""Work witness: how much more work three scale-sensitive entries do
between two data scales.

Runs ``pagerank_copurchase``, ``ngram_containment_banded`` and
``multimodal_decode_jpeg`` at ``--a`` and ``--b`` under the benchmark's
ledger (``perfbench.ledger``, read from Spark's status store with the UI
off) and prints, per entry, Spark jobs, tasks, scanned input MB, shuffle
read/write MB and the call's wall time at both scales, plus their b/a
ratios. The input ratio is the entry's data factor. Job, task, input and
shuffle figures follow the plan and the data, not the machine's load, so
a shuffle ratio far above the data factor flags super-linear work that
wall-clock ratios on a busy box cannot separate from noise.

Usage:
    python scripts/work_witness.py --a SF_DIR_A --b SF_DIR_B [--out FILE.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mlb_win_predictor_spark.queries import QUERIES  # noqa: E402
from mlb_win_predictor_spark.session import get_spark, release_caches  # noqa: E402
from perfbench.ledger import Ledger  # noqa: E402

ENTRIES = ("pagerank_copurchase", "ngram_containment_banded", "multimodal_decode_jpeg")
METRICS = (
    "spark.jobs",
    "spark.tasks",
    "spark.input_mb",
    "spark.shuffle_read_mb",
    "spark.shuffle_write_mb",
    "queries.call_s",
)


def measure(spark, name: str, sf_dir: str) -> dict[str, float]:
    """Run one catalog entry to its terminal count under the ledger and
    return its row count and ``METRICS``."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    ledger = Ledger(spark, jvm_pid)
    try:
        n, trace = ledger.run(QUERIES[name].fn, spark, sf_dir)
    finally:
        release_caches(spark)
        ledger.close()
    return {"rows": n, **{k: trace.metrics[k] for k in METRICS}}


def ratios(a: dict[str, float], b: dict[str, float]) -> dict[str, float | None]:
    return {k: round(b[k] / a[k], 3) if a[k] else None for k in a}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--a", required=True, help="smaller scale's data dir")
    ap.add_argument("--b", required=True, help="larger scale's data dir")
    ap.add_argument("--out", help="also write the report as JSON here")
    args = ap.parse_args()

    spark = get_spark(app_name="work-witness")
    spark.sparkContext.setLogLevel("ERROR")
    report: dict = {"sf_a": args.a, "sf_b": args.b}
    try:
        for name in ENTRIES:
            a = measure(spark, name, args.a)
            b = measure(spark, name, args.b)
            report[name] = {"a": a, "b": b, "b/a": ratios(a, b)}
            print(name)
            for k in a:
                r = report[name]["b/a"][k]
                print(f"  {k:24s} {a[k]:12.3f} {b[k]:12.3f}  b/a={r}")
    finally:
        spark.stop()
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=2)


if __name__ == "__main__":
    main()
