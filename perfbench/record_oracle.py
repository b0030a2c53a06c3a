#!/usr/bin/env python3
"""Record each benchmark query's DuckDB-oracle row count at both
benchmark scales into perfbench/expected_rows.json.

    python3 perfbench/record_oracle.py

Run it once after changing the generator or a query list; the
benchmark compares every query's output row count against this file.
"""

from __future__ import annotations

import json
import os

import run


def main() -> None:
    run._prepare_env()
    import batch
    import oracle
    from kpipe_spark.catalog import TABLE_NAMES
    from kpipe_spark.queries import all_queries

    registry = all_queries()
    out = {}
    for scale in sorted(set(run.SCALE.values())):
        con = oracle.connect(run._tables(scale), TABLE_NAMES)
        out[str(scale)] = {
            n: len(con.sql(registry[n].oracle).fetchall())
            for n in batch.RELATIONAL + batch.LLM_CORPUS
        }
        con.close()
    with open(os.path.join(run.HERE, "expected_rows.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
