"""The benchmark's workloads.  Each is a closed loop with one client: the
next pass starts only after the previous one finished and was checked.

A workload object has these steps:

* ``prepare``  -- untimed: generated inputs, and the expected outputs if
  an earlier run of the same program on the same inputs cached them;
* ``run_pass`` -- one timed pass in the current session;
* ``check``    -- untimed: builds the expected outputs if none are cached
  yet, then verifies the last pass against them;
* ``traced``   -- the ``--trace 1`` run: a discarded first pass, a traced
  pass, an untraced pass and the per-layer probes; ``fold`` turns the
  spans and the Spark event log into per-layer metrics.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import shutil
import sys
import time

from checks import (
    Oracle,
    check_sinks,
    rowset,
    rowset_fingerprint,
    same_rows,
    sink_fingerprints,
    tie_columns,
)
from spans import Tracer, covered, fold_event_log, self_times, subtree

CORES = 4
# 200 conversations at median 30 turns (~7k turns): a first pass in a fresh
# session takes ~35 s on 4 cores, which is what the per-run time budget
# allows (see README.md)
N_CONVS = 200
MEDIAN_TURNS = 30
# events rows in thousands; 10 gives the sf0.01 test tables' sizes
QUERY_SCALE = 10

# oracle-margin configurations of __spark_entry__'s query set; the production
# LSH configurations run instead (the same split bench.py makes)
ORACLE_CONFIG_LEAVES = (
    "jaccard_pairs", "cosine_dup_pairs", "minhash_lsh_pairs",
    "minhash_index_pairs", "simhash_index_pairs",
)
PRODUCTION_LEAVES = ("minhash_lsh_pairs", "cosine_dup_pairs_lsh")

FRAGMENTS = ("scan", "dropreason", "normalize", "parse", "classify",
             "enrich", "order_windows")
FRAGMENT_METRIC = {
    "dropreason": "operators.dropreason.self_s",
    "normalize": "functions.normalize.self_s",
    "parse": "operators.parse.self_s",
    "classify": "operators.classify.self_s",
    "enrich": "operators.enrich.self_s",
    "order_windows": "operators.joins.order_windows.self_s",
}


def sink_names() -> tuple[str, ...]:
    from tapes_spark.tapelog.writer import SINK_NAMES

    return SINK_NAMES


def query_leaf_names() -> list[str]:
    import __spark_entry__ as entry

    names = [n for n in entry.queries() if n not in ORACLE_CONFIG_LEAVES]
    return names + list(PRODUCTION_LEAVES)


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in report order."""
    out = [
        ("session.jobs", "count"), ("session.tasks", "count"),
        ("session.driver_idle_s", "s"), ("session.executor_run_s", "s"),
        ("session.executor_cpu_s", "s"), ("session.shuffle_write_mb", "MB"),
        ("session.gc_s", "s"), ("session.spill_mb", "MB"),
        ("session.failed_tasks", "count"),
        ("streaming.batch_fingerprint.wall_s", "s"),
        ("pipeline.run_pipeline.wall_s", "s"),
        ("pipeline.stage_write.enriched.wall_s", "s"),
        ("pipeline.stage_write.tool_tape.wall_s", "s"),
        ("pipeline.stage.bytes_mb", "MB"),
        ("pipeline.exchange.shuffle_write_mb", "MB"),
        ("pipeline.run_metrics.wall_s", "s"),
        ("pipeline.run_metrics.jobs", "count"),
    ]
    out += [(FRAGMENT_METRIC[f], "s") for f in FRAGMENTS[1:]]
    out += [("functions.normalize.arrow_s", "s"),
            ("functions.normalize.arrow_rows", "count")]
    out += [(f"operators.sink.{s}.compute_s", "s") for s in sink_names()]
    out += [(f"tapelog.write.{s}.wall_s", "s") for s in sink_names()]
    out += [("tapelog.readback_count.wall_s", "s"),
            ("tapelog.sink.bytes_mb", "MB")]
    for leaf in query_leaf_names():
        out += [(f"query.{leaf}.wall_s", "s"),
                (f"query.{leaf}.top_stage_cpu_s", "s")]
    out += [(f"{layer}.self_s", "s")
            for layer in ("submit", "streaming", "pipeline", "tapelog")]
    out += [("trace.overhead_s", "s")]
    return out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _mb(nbytes: float) -> float:
    return nbytes / 1e6


def program_hash() -> str:
    """sha256 over the program's sources: tapes_spark and the query set."""
    import tapes_spark

    root = os.path.dirname(os.path.dirname(tapes_spark.__file__))
    paths = sorted(
        os.path.join(d, f)
        for d, _, files in os.walk(os.path.join(root, "tapes_spark"))
        for f in files if f.endswith(".py")
    ) + [os.path.join(root, "__spark_entry__.py")]
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


class _Workload:
    name = ""
    extra_conf: dict[str, str] = {}

    def __init__(self, run_dir: str, cache_dir: str, seed: int):
        self.spark = None  # the run's session, set by the caller
        self.run_dir = run_dir
        self.cache_dir = cache_dir
        self.seed = seed
        self.expected: dict[str, str] | None = None
        self.walls: list[float] = []

    def _expect_path(self, input_dir: str) -> str:
        return os.path.join(
            self.cache_dir,
            f"expect-{self.name}-{os.path.basename(input_dir)}"
            f"-{program_hash()}.json",
        )

    def _load_expected(self, input_dir: str) -> None:
        """Expected outputs are a function of program and inputs only, so
        a run reuses what an earlier run on the same seed recorded -- and
        thereby also checks that the program is deterministic across
        sessions."""
        self._expect_file = self._expect_path(input_dir)
        if os.path.exists(self._expect_file):
            with open(self._expect_file) as f:
                self.expected = json.load(f)

    def _save_expected(self, expected: dict[str, str]) -> None:
        self.expected = expected
        tmp = f"{self._expect_file}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(expected, f)
        os.replace(tmp, self._expect_file)

    def samples(self) -> dict[str, list[float]]:
        """Raw timed samples of this run, reported by run.py."""
        return {"pass_s": self.walls}


class FullSubmit(_Workload):
    """One pass = one full-mode ``tapes_spark.submit`` run over a parquet
    transcripts input, staged, into a fresh sinks directory (so the
    fingerprint resume never turns a pass into a no-op)."""

    name = "full_submit"

    def prepare(self) -> None:
        import corpus
        import pyarrow.parquet as pq

        self.tx_path = os.path.join(
            corpus.transcripts(self.cache_dir, N_CONVS, MEDIAN_TURNS,
                               self.seed),
            "transcripts.parquet",
        )
        self.turns = pq.ParquetFile(self.tx_path).metadata.num_rows
        self.stage_dir = os.path.join(self.run_dir, "stage")
        self._load_expected(os.path.dirname(self.tx_path))

    def _build_expected(self) -> None:
        """Expected sinks from the unstaged, in-memory-persisted path."""
        from tapes_spark.pipeline import run_pipeline

        tx = self.spark.read.parquet(self.tx_path)
        result = run_pipeline(self.spark, tx, persist=True)
        self._save_expected(sink_fingerprints(
            {n: result.sinks[n] for n in sink_names()}
        ))
        result.unpersist()

    def _submit(self, tag: str) -> float:
        from tapes_spark import submit

        sinks = os.path.join(self.run_dir, f"sinks-{tag}")
        shutil.rmtree(sinks, ignore_errors=True)
        argv = ["--input", self.tx_path, "--sinks", sinks,
                "--run-id", tag, "--stage-dir", self.stage_dir,
                "--parallelism", str(CORES)]
        buf = io.StringIO()
        t0 = time.perf_counter()
        with contextlib.redirect_stdout(buf):
            out = submit.main(argv)
        wall = time.perf_counter() - t0
        self._last = (tag, sinks, out)
        return wall

    def run_pass(self, tag: str) -> float:
        wall = self._submit(tag)
        self.walls.append(wall)
        return wall

    def check(self) -> list[str]:
        if self.expected is None:
            self._build_expected()
        tag, sinks, out = self._last
        errors = []
        if out.get("resumed_noop") or any(
                v is None for v in out.get("snapshots", {}).values()):
            errors.append(f"submit skipped sinks: {out}")
        errors += check_sinks(self.spark, sinks, tag, self.expected)
        shutil.rmtree(sinks, ignore_errors=True)
        return [f"{tag}: {e}" for e in errors]

    def samples(self) -> dict[str, list[float]]:
        return {"pass_s": self.walls, "turns": [self.turns] * len(self.walls)}

    # ------------------------------------------------------------ trace

    def traced(self) -> tuple[Tracer, list[str]]:
        import tapes_spark.pipeline as P
        import tapes_spark.streaming.stream as S
        from tapes_spark.tapelog.table import TapeTable
        from tapes_spark.tapelog.writer import SinkWriter

        self._submit("first")
        errors = self.check()

        tracer = Tracer(self.spark.sparkContext)
        captured = []

        def capture(run_pipeline):
            def wrapper(*args, **kwargs):
                captured.append(run_pipeline(*args, **kwargs))
                return captured[-1]
            return wrapper

        def timed_readback(read):
            def wrapper(table, *args, **kwargs):
                df = read(table, *args, **kwargs)
                if tracer.current == "tapelog.write_all":
                    # write_all counts each sink right after writing it
                    count = df.count

                    def timed_count():
                        with tracer.span("tapelog.readback_count"):
                            return count()

                    df.count = timed_count
                return df
            return wrapper

        tracer.patch(P, "run_pipeline", capture)
        tracer.patch(TapeTable, "read", timed_readback)
        tracer.wrap(S, "batch_fingerprint", "streaming.batch_fingerprint")
        tracer.wrap(P, "run_pipeline", "pipeline.run_pipeline")
        tracer.wrap(P, "_stage_bucketed",
                    lambda spark, df, stage_dir, name:
                    f"pipeline.stage_write.{name}")
        tracer.wrap(P, "run_metrics", "pipeline.run_metrics")
        tracer.wrap(SinkWriter, "write_all", "tapelog.write_all")
        tracer.wrap(TapeTable, "overwrite",
                    lambda table, *a, **k:
                    f"tapelog.write.{os.path.basename(table.root)}")
        tracer.wrap(TapeTable, "append", "tapelog.append")
        try:
            with tracer.active_pass("traced", "submit.main") as root:
                self._submit("traced")
        finally:
            tracer.unwrap_all()
        traced = root.end - root.start
        errors += self.check()

        # per-sink compute over the staged frames the traced pass built
        # (before the next pass overwrites the stage tables)
        result = captured[0]
        with tracer.active_pass("sinks", "probe.sinks"):
            for name in sink_names():
                with tracer.span(f"operators.sink.{name}"):
                    _noop(result.sinks[name])
        result.unpersist()
        # the untraced leg runs after the traced one, so JVM warm-up still
        # under way reads as overhead, never hides it
        untraced = self._submit("untraced")
        errors += self.check()
        self._ladder(tracer)
        self._tracer = tracer
        self._overhead = traced - untraced
        return tracer, errors

    def _ladder(self, tracer: Tracer) -> None:
        """Noop-sink fragment ladder over the program's own
        ``pipeline.build_enriched``: one call of it runs with the operators
        it calls patched to record the frame each returns, then the
        recorded frames are noop-written in plan order.  Each rung's plan
        is the previous rung's plus one operator, so a rung's self time is
        its wall minus the previous rung's wall."""
        import tapes_spark.pipeline as P

        frames: dict[str, object] = {}

        def record(result_rung, arg_rung=None):
            def make(op):
                def wrapper(df, *args, **kwargs):
                    if arg_rung:
                        frames.setdefault(arg_rung, df)
                    out = op(df, *args, **kwargs)
                    frames.setdefault(result_rung, out)
                    return out
                return wrapper
            return make

        # build_enriched calls these by their unqualified names in
        # tapes_spark.pipeline: its input reaches with_drop_reason, the
        # normalized split-union reaches with_parsed_features, and
        # with_resume_boundary returns the ordered, exchanged frame
        tracer.patch(P, "with_drop_reason", record("dropreason", "scan"))
        tracer.patch(P, "with_parsed_features", record("parse", "normalize"))
        tracer.patch(P, "with_call_kind", record("classify"))
        tracer.patch(P, "enrich_pricing_static", record("enrich"))
        tracer.patch(P, "with_resume_boundary", record("order_windows"))
        try:
            P.build_enriched(self.spark, self.spark.read.parquet(self.tx_path))
        finally:
            tracer.unwrap_all()
        with tracer.active_pass("ladder", "probe.ladder"):
            for name in FRAGMENTS:
                with tracer.span(f"ladder.{name}"):
                    _noop(frames[name])

    def fold(self, evdir: str) -> dict[str, float]:
        tracer = self._tracer
        log = fold_event_log(evdir)
        spans = tracer.spans
        m: dict[str, float] = {"trace.overhead_s": self._overhead}
        root = next(s for s in spans if s.name == "submit.main")
        ids = subtree(spans, root.id)
        in_pass = [s for s in spans if s.id in ids]
        m.update(_session_metrics(log, root, ids))

        def wall(name):
            return sum(s.end - s.start for s in in_pass if s.name == name)

        def totals(pred):
            sel = set()
            for s in in_pass:
                if pred(s.name):
                    sel |= subtree(spans, s.id)
            return log.totals(log.jobs_of(sel)), log.jobs_of(sel)

        for name in ("streaming.batch_fingerprint", "pipeline.run_pipeline",
                     "pipeline.stage_write.enriched",
                     "pipeline.stage_write.tool_tape",
                     "pipeline.run_metrics", "tapelog.readback_count"):
            m[f"{name}.wall_s"] = wall(name)
        for sink in sink_names():
            m[f"tapelog.write.{sink}.wall_s"] = wall(f"tapelog.write.{sink}")
        stage, _ = totals(lambda n: n.startswith("pipeline.stage_write."))
        m["pipeline.stage.bytes_mb"] = _mb(stage.output_b)
        pipe, _ = totals(lambda n: n == "pipeline.run_pipeline")
        m["pipeline.exchange.shuffle_write_mb"] = _mb(pipe.shuffle_write_b)
        _, jobs = totals(lambda n: n == "pipeline.run_metrics")
        m["pipeline.run_metrics.jobs"] = len(jobs)
        sink_io, _ = totals(lambda n: n.startswith("tapelog.write."))
        m["tapelog.sink.bytes_mb"] = _mb(sink_io.output_b)
        selfs = self_times(spans)
        for layer in ("submit", "streaming", "pipeline", "tapelog"):
            m[f"{layer}.self_s"] = sum(
                selfs[s.id] for s in in_pass if s.layer == layer)

        by_name = {s.name: s for s in spans}
        for sink in sink_names():
            s = by_name[f"operators.sink.{sink}"]
            m[f"operators.sink.{sink}.compute_s"] = s.end - s.start
        rung = {f: by_name[f"ladder.{f}"] for f in FRAGMENTS}
        for prev, cur in zip(FRAGMENTS, FRAGMENTS[1:]):
            m[FRAGMENT_METRIC[cur]] = (
                (rung[cur].end - rung[cur].start)
                - (rung[prev].end - rung[prev].start)
            )
        norm = log.totals(log.jobs_of({rung["normalize"].id}))
        m["functions.normalize.arrow_s"] = norm.arrow_s
        m["functions.normalize.arrow_rows"] = norm.arrow_rows
        return m


class QueryReads(_Workload):
    """One pass = the 27 query leaves run one after another, each fully
    materialized by an Arrow collect of every column."""

    name = "query_reads"
    # bench.py's query-session split settings: without a split bound a
    # single-file table scans as one or two tasks
    extra_conf = {
        "spark.sql.files.maxPartitionBytes": "8m",
        "spark.sql.files.openCostInBytes": "0",
    }

    def prepare(self) -> None:
        import corpus
        import pyarrow.parquet as pq

        self.tables = corpus.query_tables(self.cache_dir, QUERY_SCALE,
                                          self.seed)
        self.leaves = query_leaf_names()
        emb = pq.read_table(f"{self.tables}/embeddings.parquet",
                            columns=["embedding"])
        self.dim = len(emb.column(0)[0])
        self.leaf_walls: list[float] = []
        self._load_expected(self.tables)

    def _leaf(self, name: str):
        import __spark_entry__ as entry

        if name == "minhash_lsh_pairs":
            from tapes_spark.operators.dedup import minhash_lsh_pairs

            docs = self.spark.read.parquet(f"{self.tables}/documents.parquet")
            return minhash_lsh_pairs(docs, threshold=0.8)
        if name == "cosine_dup_pairs_lsh":
            from tapes_spark.operators.similarity import cosine_dup_pairs_lsh

            emb = self.spark.read.parquet(f"{self.tables}/embeddings.parquet")
            return cosine_dup_pairs_lsh(emb, self.dim, threshold=0.5)
        return entry.queries()[name](self.spark, self.tables)

    def _pass(self, tracer: Tracer | None = None) -> tuple[float, dict]:
        span = tracer.span if tracer else (lambda _n: contextlib.nullcontext())
        tables, walls = {}, {}
        t_pass = time.perf_counter()
        for name in self.leaves:
            with span(f"query.{name}"):
                t0 = time.perf_counter()
                tables[name] = self._leaf(name).toArrow()
                walls[name] = time.perf_counter() - t0
        self._last = (tables, walls)
        slowest = sorted(walls.items(), key=lambda kv: -kv[1])[:4]
        print("e2ebench slowest leaves: " + ", ".join(
            f"{n}={w:.2f}" for n, w in slowest), file=sys.stderr)
        return time.perf_counter() - t_pass, walls

    def _build_expected(self) -> list[str]:
        """Record each leaf's fingerprint from the last pass once its rows
        matched the DuckDB oracle.  The two production LSH leaves have no
        oracle: their first fingerprint is recorded as is, and every
        later pass and run on the same inputs must reproduce it."""
        import __spark_entry__ as entry
        import corpus

        sql = entry.oracle_sql()
        oracle = Oracle(self.tables, corpus.QUERY_TABLES)
        errors, expected = [], {}
        try:
            for name, table in self._last[0].items():
                rows = rowset(table)
                if name in sql and name not in PRODUCTION_LEAVES:
                    want = oracle.rows(sql[name])
                    if not same_rows(rows, want, tie_columns(name, table)):
                        errors.append(f"{name}: {len(rows)} rows differ from "
                                      f"the oracle's {len(want)}")
                expected[name] = rowset_fingerprint(rows)
        finally:
            oracle.close()
        if errors:
            self.expected = expected
        else:
            self._save_expected(expected)
        return errors

    def run_pass(self, tag: str) -> float:
        wall, walls = self._pass()
        self.walls.append(wall)
        self.leaf_walls += walls.values()
        return wall

    def check(self) -> list[str]:
        if self.expected is None:
            return self._build_expected()
        errors = []
        for name, table in self._last[0].items():
            got = rowset_fingerprint(rowset(table))
            if got != self.expected[name]:
                errors.append(f"{name}: fingerprint {got} != "
                              f"{self.expected[name]}")
        return errors

    def samples(self) -> dict[str, list[float]]:
        return {"pass_s": self.walls, "query_s": self.leaf_walls}

    def traced(self) -> tuple[Tracer, list[str]]:
        self._pass()
        errors = self.check()
        tracer = Tracer(self.spark.sparkContext)
        with tracer.active_pass("traced", "query.pass") as root:
            self._pass(tracer)
        errors += self.check()
        # after the traced leg, as on full_submit
        untraced, _ = self._pass()
        errors += self.check()
        self._tracer = tracer
        self._overhead = (root.end - root.start) - untraced
        return tracer, errors

    def fold(self, evdir: str) -> dict[str, float]:
        tracer = self._tracer
        log = fold_event_log(evdir)
        spans = tracer.spans
        root = next(s for s in spans if s.name == "query.pass")
        m: dict[str, float] = {"trace.overhead_s": self._overhead}
        m.update(_session_metrics(log, root, subtree(spans, root.id)))
        for s in spans:
            if s.parent == root.id:
                jobs = log.jobs_of({s.id})
                m[f"{s.name}.wall_s"] = s.end - s.start
                m[f"{s.name}.top_stage_cpu_s"] = log.top_stage_cpu_s(jobs)
        return m


def _session_metrics(log, root, ids: set[int]) -> dict[str, float]:
    jobs = log.jobs_of(ids)
    t = log.totals(jobs)
    busy = covered([log.job_window[j] for j in jobs if j in log.job_window],
                   root.start, root.end)
    return {
        "session.jobs": len(jobs),
        "session.tasks": t.tasks,
        "session.driver_idle_s": (root.end - root.start) - busy,
        "session.executor_run_s": t.run_s,
        "session.executor_cpu_s": t.cpu_s,
        "session.shuffle_write_mb": _mb(t.shuffle_write_b),
        "session.gc_s": t.gc_s,
        "session.spill_mb": _mb(t.spill_b),
        "session.failed_tasks": t.failed_tasks,
    }


WORKLOADS = {w.name: w for w in (FullSubmit, QueryReads)}
