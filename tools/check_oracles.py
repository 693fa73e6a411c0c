#!/usr/bin/env python
"""CLI for the local oracle gate: run every queries() entry on Spark and its
oracle_sql() on DuckDB, compare (row count, schema, value hash).

Usage: python tools/check_oracles.py [name-substring] [--sf DIR]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")


def main(sf_dir: str = "/root/testdata/sf0.01", only: str | None = None) -> int:
    import __spark_entry__ as e
    from log_anomaly_detector_spark.oracle_check import (
        compare_one_counted,
        duck_connection,
    )
    from log_anomaly_detector_spark.session import get_spark, quiesce

    spark = get_spark("oracle-check")
    con = duck_connection(sf_dir)
    qs, oracles = e.queries(), e.oracle_sql()
    fails = []
    for name, fn in qs.items():
        if only and only not in name:
            continue
        t0 = time.time()
        try:
            problems, n = compare_one_counted(
                spark, con, name, fn, oracles.get(name), sf_dir
            )
        except Exception as ex:
            fails.append(name)
            print(f"FAIL {name}: error: {ex}")
            continue
        tag = "PASS" if name in oracles else "ok  "
        if problems:
            fails.append(name)
            print(f"FAIL {name}: {'; '.join(problems)} ({time.time()-t0:.1f}s)")
        else:
            extra = "" if name in oracles else " [rows-only]"
            print(f"{tag} {name} ({n} rows, {time.time()-t0:.1f}s){extra}")
            if n == 0:
                print(f"     WARNING {name}: 0 rows")
    print(f"\n{len(fails)} failures: {fails}")
    quiesce(spark)
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf = "/root/testdata/sf0.01"
    for i, a in enumerate(sys.argv):
        if a == "--sf":
            sf = sys.argv[i + 1]
    sys.exit(main(sf_dir=sf, only=args[0] if args else None))
