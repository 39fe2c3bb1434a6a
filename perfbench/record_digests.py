"""Record the DuckDB-oracle digests of the registry mix.

The oracles take far longer than the Spark queries they check, so the
benchmark compares against digests stored in ``registry_digests.json``.
Rerun this when the mix, an oracle or the fixed tables change:

    python3 perfbench/record_digests.py
"""

from __future__ import annotations

import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from workloads import DATA_DIR, DIGESTS, MIX, digest  # noqa: E402
from spark_ifs_spark.registry import ORACLES  # noqa: E402


def main() -> None:
    con = duckdb.connect()
    for f in sorted(os.listdir(DATA_DIR)):
        table = f.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{os.path.join(DATA_DIR, f)}'")
    out = {name: digest(con.execute(ORACLES[name]).fetchdf()) for name in MIX}
    with open(DIGESTS, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
