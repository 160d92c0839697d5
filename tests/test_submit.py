"""spark-submit entry point (tapes_spark/submit.py): full-mode idempotent
submit, fingerprint resume no-op, and the incremental drain mode —
SURVEY §7 item 8's packaged job, driven exactly as a scheduler would
re-submit it."""

from __future__ import annotations

import pytest

from tapes_spark import submit
from tapes_spark.fixtures import write_transcripts
from tapes_spark.tapelog import SinkWriter, TapeTable
from tapes_spark.tapelog.writer import SINK_NAMES


@pytest.fixture(scope="module")
def tx_path(tmp_path_factory):
    p = str(tmp_path_factory.mktemp("submit") / "tx.parquet")
    write_transcripts(p, n_convs=6, median_turns=8, seed=42)
    return p


class TestFullMode:
    def test_full_writes_all_sinks(self, spark, tx_path, tmp_path):
        sinks = str(tmp_path / "sinks")
        out = submit.main(
            ["--input", tx_path, "--sinks", sinks, "--run-id", "r1"]
        )
        assert out["mode"] == "full" and not out["resumed_noop"]
        assert set(out["snapshots"]) == set(SINK_NAMES)
        assert all(v is not None for v in out["snapshots"].values())
        w = SinkWriter(spark, sinks)
        assert w.read("conversation_tape").count() > 0
        # run metrics reached the auditable tape, with the transport-tier
        # drop counters included (raw input was passed)
        metrics = {
            r["metric"] for r in w.metrics.read().collect()
        }
        assert "turns_in" in metrics
        # transport-tier counters present because submit passes the raw
        # input to run_metrics (omitted-never-faked contract)
        for reason in ("missing_ts", "duplicate_capture", "ts_regression"):
            assert f"drop_reason_{reason}" in metrics

    def test_staged_submit_matches_unstaged_pipeline(
        self, spark, tx_path, tmp_path
    ):
        """The deploy path (``--stage-dir``: bucketed stage tables) writes
        the same sinks as the unstaged in-memory pass, and its metrics
        tape holds each counter once, equal to a direct count.  The input
        is the fixture plus one row of each transport-tier damage, so the
        transport counters are exercised (those rows stay derivable)."""
        from pyspark.sql import functions as F

        from tapes_spark.operators.dropreason import (
            DROP_REASONS,
            TRANSPORT_DROP_REASONS,
            with_full_drop_reason,
        )
        from tapes_spark.pipeline import run_pipeline
        from tapes_spark.streaming.stream import batch_fingerprint

        clean = spark.read.parquet(tx_path)
        c0 = clean.agg(F.min("conv_id")).first()[0]
        conv = clean.filter(F.col("conv_id") == c0)
        last_idx, first_ts = conv.agg(F.max("turn_idx"), F.min("ts")).first()
        first = conv.filter(F.col("turn_idx") == 0)
        damage = (
            # a retransmit of turn 0, captured 5 s later
            first.withColumn("ts", F.col("ts") + F.expr("INTERVAL 5 SECONDS"))
            # a capture with no capture time
            .unionByName(
                conv.filter(F.col("turn_idx") == 1)
                .withColumn("ts", F.lit(None).cast("timestamp"))
            )
            # a later turn captured before the conversation started
            .unionByName(
                first.withColumn("turn_idx", F.lit(last_idx + 1).cast("int"))
                .withColumn(
                    "ts", F.lit(first_ts) - F.expr("INTERVAL 1 HOUR")
                )
            )
        )
        in_path = str(tmp_path / "tx.parquet")
        clean.unionByName(damage).write.parquet(in_path)
        tx = spark.read.parquet(in_path)

        sinks = str(tmp_path / "sinks")
        out = submit.main(
            ["--input", in_path, "--sinks", sinks, "--run-id", "s1",
             "--stage-dir", str(tmp_path / "stage")]
        )
        assert not out["resumed_noop"]
        ref = run_pipeline(spark, tx, persist=True)
        w = SinkWriter(spark, sinks)
        for name in SINK_NAMES:
            assert batch_fingerprint(w.read(name)) == batch_fingerprint(
                ref.sinks[name]
            ), name

        rows = w.metrics.read().filter(F.col("run_id") == "s1").collect()
        names = [r["metric"] for r in rows]
        assert len(names) == len(set(names)), sorted(names)
        got = {r["metric"]: r["value"] for r in rows}

        def hist(df, col):
            return {
                r[col]: r["count"] for r in df.groupBy(col).count().collect()
            }

        quarantined = ref.metrics["quarantined_rows"]
        want = {f"sink_{n}_rows": w.read(n).count() for n in SINK_NAMES}
        want["turns_in"] = ref.enriched.count()
        want["turns_quarantined"] = quarantined.count()
        derive = hist(quarantined, "drop_reason")
        transport = hist(with_full_drop_reason(tx), "drop_reason")
        for reason in DROP_REASONS:
            want[f"drop_reason_{reason}"] = derive.get(reason, 0)
        for reason in TRANSPORT_DROP_REASONS:
            want[f"drop_reason_{reason}"] = transport.get(reason, 0)
        assert all(transport.get(r) == 1 for r in TRANSPORT_DROP_REASONS)
        for kind, n in hist(ref.enriched, "call_kind").items():
            want[f"call_kind_{kind}"] = n
        ref.unpersist()
        counted = {
            k: v for k, v in got.items()
            if k.startswith(("sink_", "turns_", "drop_reason_", "call_kind_"))
            and not k.endswith("_write_sec")
        }
        assert counted == {k: float(v) for k, v in want.items()}

    def test_resubmit_same_input_is_noop(self, spark, tx_path, tmp_path):
        sinks = str(tmp_path / "sinks")
        submit.main(
            ["--input", tx_path, "--sinks", sinks, "--run-id", "r1"]
        )
        w = SinkWriter(spark, sinks)
        n_metrics = w.metrics.read().count()
        out2 = submit.main(
            ["--input", tx_path, "--sinks", sinks, "--run-id", "r2"]
        )
        assert out2["resumed_noop"]
        assert all(v is None for v in out2["snapshots"].values())
        # the pipeline metrics are NOT re-derived/re-appended for the
        # no-op resubmit (write_all still audits its own pass with a
        # single write_all_sec row — that one is expected)
        m = w.metrics.read()
        assert m.filter("metric = 'turns_in'").count() == 1
        assert m.filter(
            "run_id = 'r2' and metric != 'write_all_sec'"
        ).count() == 0
        assert m.count() <= n_metrics + 1


class TestIncrementalMode:
    def test_incremental_requires_tape(self, tx_path, tmp_path):
        with pytest.raises(SystemExit):
            submit.main(
                ["--input", tx_path, "--sinks", str(tmp_path / "s"),
                 "--run-id", "r1", "--incremental"]
            )

    def test_incremental_drain_then_noop(self, spark, tx_path, tmp_path):
        root = str(tmp_path / "input_tape")
        tape = TapeTable(spark, root)
        tape.append(spark.read.parquet(tx_path), {"op": "seed"})
        sinks = str(tmp_path / "sinks")
        out = submit.main(
            ["--input", root, "--input-tape", "--incremental",
             "--sinks", sinks, "--run-id", "d1"]
        )
        assert out["mode"] == "incremental"
        assert out.get("dirty", 0) > 0
        out2 = submit.main(
            ["--input", root, "--input-tape", "--incremental",
             "--sinks", sinks, "--run-id", "d2"]
        )
        assert out2.get("skipped") or out2.get("dirty", 1) == 0


class TestMaintainMode:
    def test_maintain_excludes_other_modes(self, tx_path, tmp_path):
        with pytest.raises(SystemExit):
            submit.main(
                ["--input", tx_path, "--input-tape", "--sinks",
                 str(tmp_path / "s"), "--run-id", "m0", "--maintain",
                 "--incremental"]
            )
        with pytest.raises(SystemExit):  # non-maintain still needs input
            submit.main(["--sinks", str(tmp_path / "s"), "--run-id", "m0"])

    def test_maintain_compacts_and_resume_survives(
        self, spark, tx_path, tmp_path
    ):
        import os

        root = str(tmp_path / "input_tape")
        tape = TapeTable(spark, root)
        tx = spark.read.parquet(tx_path)
        convs = sorted(
            r["conv_id"] for r in tx.select("conv_id").distinct().collect()
        )
        # seed with part of the corpus, drain, then append the rest and
        # drain again — each sink table now holds several small groups
        tape.append(
            tx.filter(tx.conv_id.isin(convs[:3])), partition_col="conv_id"
        )
        sinks = str(tmp_path / "sinks")
        submit.main(
            ["--input", root, "--input-tape", "--incremental",
             "--sinks", sinks, "--run-id", "d1"]
        )
        tape.append(
            tx.filter(tx.conv_id.isin(convs[3:])), partition_col="conv_id"
        )
        submit.main(
            ["--input", root, "--input-tape", "--incremental",
             "--sinks", sinks, "--run-id", "d2"]
        )
        w = SinkWriter(spark, sinks)

        def snap(n):
            from pyspark.sql import functions as F

            return sorted(
                (r["conv_id"], r["cnt"], r["h"])
                for r in w.read(n)
                .groupBy("conv_id")
                .agg(
                    F.count("*").alias("cnt"),
                    F.bit_xor(
                        F.xxhash64(F.to_json(F.struct("*")))
                    ).alias("h"),
                )
                .collect()
            )

        before = {n: snap(n) for n in ("conversation_tape", "tool_tape")}
        n_groups_before = len(
            os.listdir(os.path.join(sinks, "conversation_tape", "data"))
        )
        out = submit.main(
            ["--input", root, "--input-tape", "--maintain",
             "--sinks", sinks, "--run-id", "m1", "--expire-keep", "1"]
        )
        assert out["mode"] == "maintain"
        csid = out["tables"]["conversation_tape"]["compacted_snapshot"]
        assert csid
        after = {n: snap(n) for n in ("conversation_tape", "tool_tape")}
        assert after == before  # layout changed, content identical
        # current snapshot scans ONE merged group where several stood
        t = SinkWriter(spark, sinks).tables["conversation_tape"]
        dirs = {os.path.dirname(f) for f in t.manifest(csid)["files"]}
        assert len(dirs) == 1
        # expiry (keep_last=1) dropped the pre-compaction groups on disk
        n_groups_after = len(
            os.listdir(os.path.join(sinks, "conversation_tape", "data"))
        )
        assert n_groups_after < n_groups_before  # expiry removed old groups
        # the drain checkpoint still resolves and the queue is empty —
        # compaction must be invisible to the incremental consumer
        out3 = submit.main(
            ["--input", root, "--input-tape", "--incremental",
             "--sinks", sinks, "--run-id", "d3"]
        )
        assert out3.get("skipped") or out3.get("dirty", 1) == 0

    def test_maintain_keeps_fingerprint_noop(self, spark, tx_path, tmp_path):
        root = str(tmp_path / "ft_tape")
        tape = TapeTable(spark, root)
        tx = spark.read.parquet(tx_path)
        # two appends so the input tape itself has something to compact
        tape.append(tx.limit(50), partition_col="conv_id")
        tape.append(
            tx.exceptAll(tx.limit(50)), partition_col="conv_id"
        )
        sinks = str(tmp_path / "ft_sinks")
        submit.main(
            ["--input", root, "--input-tape", "--sinks", sinks,
             "--run-id", "f1"]
        )
        submit.main(
            ["--input", root, "--input-tape", "--maintain",
             "--sinks", sinks, "--run-id", "fm"]
        )
        # input tape was compacted (2 groups -> 1, barrier = current
        # since no incremental checkpoint exists)
        assert TapeTable(spark, root).manifest(
            TapeTable(spark, root).current_snapshot_id()
        )["operation"] == "compact"
        # re-submit of the SAME logical input resumes as a no-op: the
        # fingerprint ignores compaction snapshots on both sides
        out = submit.main(
            ["--input", root, "--input-tape", "--sinks", sinks,
             "--run-id", "f2"]
        )
        assert out["resumed_noop"]
