"""Standalone driver-emulation: run every registered query vs its DuckDB oracle.

Usage: python tests/run_all_oracle.py [sf_dir] [name...]
Prints one line per query: PASS / ROWS-ONLY / FAIL <reason>.
"""

from __future__ import annotations

import sys
import time
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb

from insight_de_smart_grid_spark.plans.registry import QUERIES
from insight_de_smart_grid_spark.session import get_spark
from tests.oracle import check_query

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="run_all_oracle")
    spark.sparkContext.setLogLevel("ERROR")
    duck = duckdb.connect()
    for t in TABLES:
        duck.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failed = []
    for name, q in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            if q.sql is None:
                n = q.fn(spark, sf_dir).count()
                print(f"ROWS-ONLY {name}: {n} rows ({time.time()-t0:.1f}s)")
                continue
            check_query(spark, duck, q, sf_dir)
            print(f"PASS {name} ({time.time()-t0:.1f}s)")
        except Exception as e:  # noqa: BLE001
            failed.append(name)
            msg = str(e).splitlines()[0] if str(e) else type(e).__name__
            print(f"FAIL {name}: {msg} ({time.time()-t0:.1f}s)")
            if "-v" in sys.argv:
                traceback.print_exc()
    print(f"\n{len(failed)} failures: {failed}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
