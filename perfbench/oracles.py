"""Digests of the registered queries' DuckDB oracles over a table directory.

Run as a short-lived child process before the measured run starts, so
DuckDB never loads into the benchmark's own process::

    python3 perfbench/oracles.py <table-dir> <out.json> <query>...

writes ``{query: [rows, columns, dtypes, value hash]}``. The measured run
then compares each Spark result's :func:`digest` with the stored one, in
the order and with the checks of ``tests/oracle_compare.compare``.
"""

from __future__ import annotations

import json
import os
import sys

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, CHECKOUT)

from tests.oracle_compare import _dtype_sig, frame_digest  # noqa: E402


def digest(df) -> list:
    """(rows, sorted columns, dtype signatures, order-insensitive hash) of
    a pandas frame."""
    n, cols, h = frame_digest(df)
    return [n, cols, [_dtype_sig(df, c) for c in cols], h]


def mismatch(got: list, want: list) -> str | None:
    """Why two digests differ, or None when they match."""
    labels = ("row count", "columns", "dtypes", "value hash")
    for label, g, w in zip(labels, got, want):
        if g != w:
            return f"{label} {g} != {w}"
    return None


def main(data: str, out: str, names: list[str]) -> None:
    import duckdb

    import momyre_spark.plans as plans

    plans.load_all()
    con = duckdb.connect()
    for f in sorted(os.listdir(data)):
        con.execute(
            f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * FROM "
            f"'{os.path.join(data, f)}'"
        )
    digests = {n: digest(con.execute(plans.ORACLES[n]).fetchdf()) for n in names}
    con.close()
    with open(out, "w") as f:
        json.dump(digests, f)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], sys.argv[3:])
