"""SinkWriter — idempotent, resumable multi-sink commit (D2/D3/ST6).

Writes each pipeline sink to its TapeTable keyed by an input FINGERPRINT
(the input tape's snapshot id + a content key).  Because derivation is a
pure function with deterministic ids, the writer can be killed between
sinks and re-submitted: sinks whose current snapshot already carries the
fingerprint are skipped, the rest are (re)written — the final state is
byte-identical to a single clean run (the reference's at-least-once +
idempotent contract, deriveworker.go:71-73; pytest gate in
tests/test_tapelog.py::test_resume_after_partial_failure).

Every commit records lineage (run_id, fingerprint) and the row count of
each data group it wrote in the manifest, and the run's rows are appended
to the `metrics` tape — the auditable per-run metrics stream (S10/A8,
north_rule "metrics emitted as an auditable tape").  `sink_*_rows` is the
committed snapshot's manifest row count: counted once, by the write job
itself, never by reading the sink back.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import SparkSession

from tapes_spark.tapelog.table import TapeTable

SINK_NAMES = (
    "conversation_tape",
    "tool_tape",
    "error_tape",
    "conv_aggregates",
    "verdict_attachments",
    "web_attachments",
    "plan_attachments",
    "chain_tape",
    "link_tape",
)


class SinkWriter:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)
        self.tables = {
            name: TapeTable(spark, os.path.join(base_dir, name))
            for name in SINK_NAMES
        }
        self.metrics = TapeTable(spark, os.path.join(base_dir, "metrics"))

    def _sink_done(self, name: str, fingerprint: str) -> bool:
        t = self.tables[name]
        sid = t.current_snapshot_id()
        if sid is None:
            return False
        return t.manifest(sid)["lineage"].get("fingerprint") == fingerprint

    def write_all(
        self,
        sinks: dict,
        run_id: str,
        fingerprint: str,
        conv_ids: list | None = None,
    ) -> dict[str, int | None]:
        """Write every sink (full overwrite, or partition-scoped when
        conv_ids given).  Returns snapshot id per sink; None = skipped
        because the fingerprint already committed (resume path).  Appends
        each written sink's `sink_*_rows` (from its commit's manifest)
        and write time to the metrics tape — the only writer of those
        counters."""
        out: dict[str, int | None] = {}
        metrics_rows: list[tuple] = []
        t_run = time.time()
        for name, df in sinks.items():
            if name not in self.tables:
                continue
            if self._sink_done(name, fingerprint):
                out[name] = None  # already committed for this input
                continue
            lineage = {
                "run_id": run_id,
                "fingerprint": fingerprint,
                "sink": name,
            }
            t0 = time.time()
            if conv_ids is not None:
                sid = self.tables[name].overwrite_partitions(
                    df, "conv_id", conv_ids, lineage
                )
            else:
                sid = self.tables[name].overwrite(df, lineage)
            out[name] = sid
            metrics_rows.append(
                (run_id, f"sink_{name}_rows",
                 float(self.tables[name].row_count(sid)))
            )
            metrics_rows.append(
                (run_id, f"sink_{name}_write_sec", round(time.time() - t0, 3))
            )
        metrics_rows.append(
            (run_id, "write_all_sec", round(time.time() - t_run, 3))
        )
        mdf = self.spark.createDataFrame(
            metrics_rows, "run_id string, metric string, value double"
        )
        self.metrics.append(
            mdf, {"run_id": run_id, "fingerprint": fingerprint}
        )
        return out

    def read(self, name: str, snapshot_id: int | None = None):
        return self.tables[name].read(snapshot_id)
