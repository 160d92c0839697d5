"""Output checks.  Every check runs outside the timed window.

* Sink tapes are compared by row count and content fingerprint, the
  order-insensitive, multiplicity-safe all-column hash that
  ``tapes_spark.streaming.stream.batch_fingerprint`` already computes.
* Query leaves are collected through Arrow (every column materialized,
  nothing for column pruning to strip) and reduced to a sorted row set
  rendered exactly as the DuckDB-oracle gate renders it
  (``tests/test_oracle_parity.py``): no rounding, int and float kept
  distinct.
"""

from __future__ import annotations

import hashlib
import math
import os


def sink_fingerprints(frames: dict) -> dict[str, str]:
    """``{name: fingerprint}``; the fingerprint ends in ``n<rows>``."""
    from tapes_spark.streaming.stream import batch_fingerprint

    return {name: batch_fingerprint(df) for name, df in frames.items()}


def fingerprint_rows(fp: str) -> int:
    return int(fp.rsplit("n", 1)[1])


def check_sinks(spark, sinks_dir: str, run_id: str,
                expected: dict[str, str]) -> list[str]:
    """Mismatches between the sinks committed under *sinks_dir* and
    *expected* fingerprints, plus any ``sink_*_rows`` counter of *run_id*
    in the metrics tape that disagrees with the expected row count."""
    from pyspark.sql import functions as F

    from tapes_spark.tapelog import TapeTable

    errors = []
    got = sink_fingerprints({
        n: TapeTable(spark, os.path.join(sinks_dir, n)).read()
        for n in expected
    })
    for name, fp in expected.items():
        if got[name] != fp:
            errors.append(f"sink {name}: fingerprint {got[name]} != {fp}")
    counters = (
        TapeTable(spark, os.path.join(sinks_dir, "metrics")).read()
        .filter((F.col("run_id") == run_id)
                & F.col("metric").like("sink\\_%\\_rows"))
        .collect()
    )
    seen = set()
    for r in counters:
        name = r["metric"][len("sink_"):-len("_rows")]
        seen.add(name)
        want = fingerprint_rows(expected[name]) if name in expected else None
        if want is None or r["value"] != want:
            errors.append(f"metrics {r['metric']}={r['value']} != {want}")
    for name in set(expected) - seen:
        errors.append(f"metrics tape has no sink_{name}_rows")
    return errors


def _norm(v) -> str:
    if v is None:
        return "\0null"
    if isinstance(v, float) and math.isnan(v):
        return "nan"
    return str(v)


def rowset(table) -> list[tuple]:
    """Sorted, column-name-ordered rows of an Arrow table."""
    cols = sorted(table.column_names)
    return sorted(
        tuple(_norm(d[c]) for c in cols) for d in table.to_pylist()
    )


# Leaf columns that are a float aggregate rounded by ``round(x, d)``, where
# the two engines were seen to land one unit apart on a tie: Spark rounds
# the exact binary value half-up, DuckDB rounds after its own float
# arithmetic and sums in another order.  Seen on ``quality_by_source``
# (seed 1) and ``broadcast_enrich`` (seeds 5 and 6).
ROUNDING_TIES = {
    "quality_by_source": ("avg_quality", "avg_stopword_ratio", "avg_ttr"),
    "broadcast_enrich": ("revenue",),
}


def _last_place(*values: str) -> float:
    """One unit in the last decimal place shown by either value."""
    places = max(len(v.partition(".")[2]) for v in values)
    return 10.0 ** -places


def _one_unit_apart(a: str, b: str) -> bool:
    """Two decimals that differ by at most one unit in their last place."""
    try:
        x, y = float(a), float(b)
    except ValueError:
        return False
    if "." not in a + b or "e" in (a + b).lower():
        return False
    return abs(x - y) <= 1.000001 * _last_place(a, b)


def same_rows(got: list[tuple], want: list[tuple],
              tie_cols: frozenset[int] = frozenset()) -> bool:
    """Row sets equal value by value.  Only in the columns at *tie_cols*
    (positions in ``rowset`` order) may a float differ by one unit in its
    last decimal place."""
    return len(got) == len(want) and all(
        len(g) == len(w) and all(
            a == b or (i in tie_cols and _one_unit_apart(a, b))
            for i, (a, b) in enumerate(zip(g, w)))
        for g, w in zip(got, want)
    )


def tie_columns(leaf: str, table) -> frozenset[int]:
    """Positions, in ``rowset`` order, of *leaf*'s ROUNDING_TIES columns."""
    cols = sorted(table.column_names)
    return frozenset(cols.index(c) for c in ROUNDING_TIES.get(leaf, ())
                     if c in cols)


def rowset_fingerprint(rows: list[tuple]) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(r).encode())
    return f"{h.hexdigest()[:16]}n{len(rows)}"


class Oracle:
    """DuckDB views over the generated query tables."""

    def __init__(self, tables_dir: str, table_names):
        import duckdb

        self.con = duckdb.connect()
        for t in table_names:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(tables_dir, t)}.parquet'"
            )

    def rows(self, sql: str) -> list[tuple]:
        return rowset(self.con.execute(sql).fetch_arrow_table())

    def close(self) -> None:
        self.con.close()
