"""Recompute the pinned DuckDB answers for the catalog workload.

Run from the repository root after a change to the catalog list, the
catalog tables' generator or an oracle's SQL:

    python3 perfbench/pin_oracles.py
"""

from __future__ import annotations

import gzip
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import __spark_entry__ as entry  # noqa: E402
from tests.parity import run_oracle  # noqa: E402

import answers  # noqa: E402
from run import CATALOG, CATALOG_SF, PINNED, write_catalog_tables  # noqa: E402


def main() -> None:
    out = os.path.join(HERE, ".work", "pin")
    shutil.rmtree(out, ignore_errors=True)
    write_catalog_tables(out)
    sqls = entry.oracle_sql()
    pinned = {}
    for name in CATALOG:
        t = time.perf_counter()
        cols, rows = run_oracle(sqls[name], out)
        pinned[name] = answers.pin(cols, rows)
        print(f"{name}: {len(rows)} rows, {time.perf_counter() - t:.1f} s", flush=True)
    with gzip.open(PINNED, "wt") as f:
        json.dump({"sf": CATALOG_SF, "tables": "tools/gen_sf1.py", "answers": pinned}, f,
                  separators=(",", ":"))
    shutil.rmtree(out)


if __name__ == "__main__":
    main()
