"""Driver simulation: run every catalog entry through ``__spark_entry__``
on a default-conf ``local[8]`` session and hash-compare each entry that
has an oracle against DuckDB at sf0.01.

Run it from a directory outside the repo, as an external driver would:

    (cd /tmp && python /path/to/repo/scripts/driver_sim.py)

Prints one ``driver-sim:`` summary line and exits non-zero on any failure.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

spark = SparkSession.builder.master("local[8]").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as se  # noqa: E402
from tests.oracle import compare, duckdb_connection  # noqa: E402

con = duckdb_connection("/root/testdata/sf0.01")
qs, osql = se.queries(), se.oracle_sql()
fails = []
for name in sorted(qs):
    try:
        if name in osql:
            compare(qs[name](spark, "/root/testdata/sf0.01"), con, osql[name])
        else:
            assert qs[name](spark, "/root/testdata/sf0.01").count() >= 0
    except Exception as ex:
        fails.append((name, str(ex)[:150]))
print(f"driver-sim: entry={se.entry(spark).count()} total={len(qs)} oracle={len(osql)} failures={len(fails)}")
assert not fails, fails
