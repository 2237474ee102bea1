"""Oracle spot-verify (strict compare).

Usage:
    python tools/spot_verify.py [--sf 0.01] name [name ...]

Runs each named query through the driver contract (``__spark_entry__``)
on the engine's session (``session.get_spark``, UI off; the master
follows ``SPARK_GRAFT_CPUS``) and compares the sorted stringified tuples
against the DuckDB oracle at the given SF. Exits non-zero on any
mismatch.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    args = sys.argv[1:]
    sf = "0.01"
    if args and args[0] == "--sf":
        sf = args[1]
        args = args[2:]
    names = args
    sf_dir = f"/root/testdata/sf{sf}"

    from acero_delta_lake_streaming_spark.catalog import TABLE_NAMES
    from acero_delta_lake_streaming_spark.session import get_spark

    spark = get_spark(extra_conf={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    import duckdb

    import __spark_entry__ as ep

    qs, osql = ep.queries(), ep.oracle_sql()
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    bad = 0
    for name in names:
        spdf = qs[name](spark, sf_dir).toPandas()
        opdf = con.execute(osql[name]).df()
        a = sorted(
            map(str, spdf[sorted(spdf.columns)].itertuples(index=False, name=None))
        )
        b = sorted(
            map(str, opdf[sorted(opdf.columns)].itertuples(index=False, name=None))
        )
        ok = a == b
        if not ok:
            bad += 1
            # Set differences, not positional zip pairs (ADVICE r13):
            # zip truncates on unequal counts and one inserted row
            # misaligns every later pair. key=repr keeps the sort total
            # should rows ever be raw tuples (None is unorderable).
            sa, sb = set(a), set(b)
            only_spark = sorted(sa - sb, key=repr)[:3]
            only_oracle = sorted(sb - sa, key=repr)[:3]
            if only_spark or only_oracle:
                detail = f"spark-only={only_spark} oracle-only={only_oracle}"
            else:
                detail = "same distinct rows; they differ only in duplicate counts"
            print(f"MISMATCH {name}: {len(spdf)} vs {len(opdf)} rows; {detail}")
        else:
            print(f"MATCH {name} ({len(spdf)} rows)")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
