"""Self-tests of the benchmark (not part of the repository's test suite):

    python3 -m pytest e2ebench/ -q

The smoke runs are real benchmark runs (Spark, the workloads' real input
sizes) and take several minutes in all.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


# ------------------------------------------------------------ arithmetic

def _span(i, start, end, parent=None, name="pipeline.x"):
    return spans.Span(i, name, start, end, parent, "p")


def test_self_time_subtracts_the_union_of_children():
    tree = [
        _span(0, 0.0, 10.0, name="submit.main"),
        _span(1, 1.0, 4.0, 0),
        _span(2, 3.0, 6.0, 0),   # overlaps span 1: [1, 6] covered once
        _span(3, 8.0, 12.0, 0),  # runs past its parent: clipped to [8, 10]
        _span(4, 1.5, 2.0, 1),
    ]
    got = spans.self_times(tree)
    assert got[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert got[1] == pytest.approx(3.0 - 0.5)
    assert got[2] == pytest.approx(3.0)
    assert got[3] == pytest.approx(4.0)
    assert got[4] == pytest.approx(0.5)
    assert spans.subtree(tree, 1) == {1, 4}


def test_covered_merges_and_clips():
    assert spans.covered([], 0, 5) == 0
    assert spans.covered([(0, 2), (1, 3), (4, 9)], 1, 5) == pytest.approx(3)


def test_fold_attributes_reused_stages_to_their_first_job(tmp_path):
    def task(stage, cpu_ns):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task End Reason": {"Reason": "Success"},
                "Task Info": {"Accumulables": []},
                "Task Metrics": {"Executor CPU Time": cpu_ns,
                                 "Executor Run Time": 1000}}

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Submission Time": 1000, "Properties": {"spark.jobGroup.id":
                                                 "span-1"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": 2000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Submission Time": 3000, "Properties": {"spark.jobGroup.id":
                                                 "span-2"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1,
         "Completion Time": 4000},
        task(0, 1e9), task(1, 2e9), task(2, 4e9),
    ]
    (tmp_path / "events_1_app").write_text(
        "\n".join(json.dumps(e) for e in events))
    log = spans.fold_event_log(str(tmp_path))
    assert log.totals(log.jobs_of({1})).cpu_s == pytest.approx(3.0)
    assert log.totals(log.jobs_of({2})).cpu_s == pytest.approx(4.0)
    assert log.top_stage_cpu_s(log.jobs_of({1, 2})) == pytest.approx(4.0)
    assert log.job_window[1] == (3.0, 4.0)


# ---------------------------------------------------------------- checks

def test_one_unit_rounding_gap_passes_only_in_tie_columns():
    import pyarrow as pa

    from checks import rowset, same_rows, tie_columns

    def rows(revenue, n_lines):
        return rowset(pa.table({"n_name": ["N1"], "p_brand": ["B1"],
                                "revenue": [revenue], "n_lines": [n_lines]}))

    want = rows(12.34, 0.5)
    ties = tie_columns("broadcast_enrich", pa.table(
        {c: [] for c in ("n_name", "p_brand", "revenue", "n_lines")}))
    assert same_rows(rows(12.35, 0.5), want, ties)
    # two units apart, or one unit in a column that is not a tie column,
    # or on a leaf without tie columns: rejected
    assert not same_rows(rows(12.36, 0.5), want, ties)
    assert not same_rows(rows(12.34, 0.6), want, ties)
    assert not same_rows(rows(12.35, 0.5), want)


def test_corrupted_sink_copy_is_rejected(monkeypatch, tmp_path):
    import pyarrow.parquet as pq

    from checks import check_sinks

    monkeypatch.setattr(workloads, "N_CONVS", 8)
    wl = workloads.FullSubmit(str(tmp_path), str(tmp_path / "cache"), 1)
    wl.prepare()
    run.setup_env()
    spark = run.start_session(workloads.FullSubmit, str(tmp_path), False)
    try:
        wl.spark = spark
        wl.run_pass("p1")
        tag, sinks, _ = wl._last
        corrupt = str(tmp_path / "corrupt")
        shutil.copytree(sinks, corrupt)
        assert wl.check() == []
        path = max(glob.glob(f"{corrupt}/conversation_tape/data/*/*.parquet"),
                   key=lambda p: pq.ParquetFile(p).metadata.num_rows)
        table = pq.read_table(path)
        # INT96 timestamps, as Spark wrote them
        pq.write_table(table.slice(0, table.num_rows - 1), path,
                       use_deprecated_int96_timestamps=True)
        # drop Hadoop's checksum so the read reaches the changed rows
        d, f = os.path.split(path)
        os.remove(os.path.join(d, f".{f}.crc"))
        errors = check_sinks(spark, corrupt, tag, wl.expected)
    finally:
        run.shutdown(spark)
    assert any("conversation_tape" in e for e in errors)


# ----------------------------------------------------------------- smoke

def _run(*argv) -> tuple[int, dict, str]:
    """One benchmark run in its own process, as it is run for real."""
    p = subprocess.run([sys.executable, "e2ebench/run.py", *argv], cwd=ROOT,
                       capture_output=True, text=True, timeout=200)
    if p.returncode:
        print(p.stderr[-4000:])
    last = p.stdout.strip().splitlines()[-1]
    return p.returncode, json.loads(last), p.stdout


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_smoke_prints_every_end_to_end_metric(workload):
    rc, result, out = _run("--workload", workload, "--seed", "1",
                           "--seconds", "1", "--trace", "0")
    assert rc == 0 and result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == dict(
        run.END_TO_END)
    assert all(v["value"] > 0 for v in result["metrics"].values())
    for name in ("setup_s", "pass_s", "peak_rss_mb"):
        assert f"# {name}" in out
    setup = next(x for x in out.splitlines() if x.startswith("# setup_s"))
    assert setup.endswith(f"n={run.SETUP_STARTS}")
    extra = ("turns_per_s",) if workload == "full_submit" else (
        "query_s_p50", "query_s_p90")
    assert all(f"# {name}" in out for name in extra)


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_smoke_traced_prints_every_per_layer_metric(workload):
    rc, result, _ = _run("--workload", workload, "--seed", "1",
                         "--seconds", "1", "--trace", "1")
    assert rc == 0 and result["correct"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == dict(
        workloads.per_layer_names())
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["session.jobs"] > 0 and m["session.tasks"] > 0
    if workload == "full_submit":
        assert m["pipeline.stage_write.enriched.wall_s"] > 0
        assert m["tapelog.write.chain_tape.wall_s"] > 0
        assert m["tapelog.readback_count.wall_s"] > 0
        assert m["functions.normalize.arrow_rows"] > 0
        assert m["pipeline.run_metrics.jobs"] > 0
    else:
        assert all(m[f"query.{leaf}.wall_s"] > 0
                   for leaf in workloads.query_leaf_names())
    assert os.path.exists(os.path.join(
        run.OUT, "runs", f"{workload}-t1", "spans.json"))


def test_fails_without_the_repository(tmp_path):
    bench = tmp_path / "e2ebench"
    bench.mkdir()
    for f in glob.glob(os.path.join(HERE, "*.py")):
        shutil.copy(f, bench)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "e2ebench/run.py", "--workload", "full_submit",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
