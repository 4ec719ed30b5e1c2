"""Tests of the benchmark's own helpers. No Spark session is started:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os

import pyarrow as pa

from perfbench import checks, inputs, layers, run, stats, tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


# -- stats ---------------------------------------------------------------

def test_median_with_count():
    assert stats.median_with_count([3.0, 1.0, 2.0]) == (2.0, 3)
    assert stats.median_with_count([4.0, 1.0, 2.0, 3.0]) == (2.5, 4)
    med, n = stats.median_with_count([])
    assert math.isnan(med) and n == 0


def test_attempts_count_failures_against_attempts():
    a = stats.Attempts()
    assert a.failed_ratio() == 0.0
    for ok in (True, False, True, True):
        a.record(ok)
    assert (a.attempted, a.failed) == (4, 1)
    assert a.failed_ratio() == 0.25


def test_tree_bytes_counts_data_files_only(tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "a" / "part-0.parquet").write_bytes(b"x" * 100)
    (tmp_path / "a" / ".part-0.parquet.crc").write_bytes(b"c" * 12)
    (tmp_path / "a" / "_SUCCESS").write_bytes(b"")
    (tmp_path / "a" / "part-0.parquet.checkpoint").write_bytes(b"")
    (tmp_path / "b-0.csv").write_bytes(b"y" * 30)
    assert stats.tree_bytes(str(tmp_path)) == (130, 2)
    assert stats.tree_bytes(str(tmp_path / "missing")) == (0, 0)


def test_peak_rss_reads_this_process():
    assert stats.peak_rss_mb() > 1.0


# -- the measuring loop ----------------------------------------------------

class _FakeWorkload:
    """Each iteration takes one second of a fake clock; iteration 3 fails."""

    def __init__(self, monkeypatch):
        self.calls, self.now = [], 0.0
        monkeypatch.setattr(run.time, "perf_counter", lambda: self.now)

    def run_iteration(self, i):
        self.calls.append(i)
        self.now += 1.0
        return None if i == 3 else 1.0 + i


def _steal(monkeypatch, stolen_in):
    """cpu_ticks() reporting ``stolen_in[i]`` % steal during iteration
    i, 0 % otherwise (read once before and once after each iteration)."""
    state = {"reads": 0, "steal": 0, "total": 0}

    def fake():
        iteration, after = divmod(state["reads"], 2)
        state["reads"] += 1
        if after:
            state["total"] += 100
            state["steal"] += stolen_in.get(iteration, 0)
        return state["steal"], state["total"]

    monkeypatch.setattr(stats, "cpu_ticks", fake)


def test_measure_sets_aside_iterations_the_host_stole_from(monkeypatch):
    _steal(monkeypatch, stolen_in={1: 50})
    wl = _FakeWorkload(monkeypatch)
    assert run.measure(wl, seconds=2.5, at_least=2) == {0: 1.0, 2: 3.0}
    assert wl.calls == [0, 1, 2]


def test_measure_fills_up_with_the_least_disturbed_timings(monkeypatch):
    _steal(monkeypatch, stolen_in={0: 30, 1: 50, 2: 20})
    wl = _FakeWorkload(monkeypatch)
    # gives up 1.5 x seconds after the start with no clean timing
    assert run.measure(wl, seconds=2.0, at_least=2) == {0: 1.0, 2: 3.0}
    assert wl.calls == [0, 1, 2]


def test_measure_counts_only_successful_iterations(monkeypatch):
    _steal(monkeypatch, stolen_in={})
    wl = _FakeWorkload(monkeypatch)
    assert run.measure(wl, seconds=4.0, at_least=4) == {0: 1.0, 1: 2.0, 2: 3.0, 4: 5.0}
    assert wl.calls == [0, 1, 2, 3, 4]


# -- spans -----------------------------------------------------------------

def _span(i, name, start, end, parent=None, it=0):
    return tracing.Span(i, name, start, end, parent, it)


def test_self_time_subtracts_covered_child_time():
    spans = [
        _span(0, "pipeline.run", 0.0, 10.0),
        _span(1, "sinks.write_sink", 1.0, 4.0, parent=0),
        _span(2, "sinks.write_sink", 3.0, 6.0, parent=0),   # overlaps span 1
        _span(3, "reliability.state.exists", 8.0, 12.0, parent=0),  # past the end
        _span(4, "sinks.write_file_idempotent", 2.0, 3.0, parent=1),
    ]
    own = tracing.self_times(spans)
    assert own[0] == 10.0 - 5.0 - 2.0  # children cover [1, 6] and [8, 10]
    assert own[1] == 2.0
    assert own[4] == 1.0
    only_sinks = tracing.self_times(spans, within=lambda s: s.layer == "sinks")
    assert only_sinks[0] == 5.0


def test_per_iteration_sums_and_fills_missing_iterations():
    spans = [_span(0, "x", 0, 1, it=1), _span(1, "x", 1, 3, it=1),
             _span(2, "y", 3, 4, it=1), _span(3, "x", 5, 9, it=2)]
    got = tracing.per_iteration(spans, lambda s: s.duration,
                                lambda s: s.name == "x", [1, 2, 3])
    assert got == [3, 4, 0]


def test_tracer_nests_spans_and_times_job_groups():
    t = tracing.Tracer(workload="migrate")
    t.iteration = 7
    with t.span("pipeline.transform", group="transform"):
        with t.span("pipeline.stage_sources", group="stage"):
            pass
    transform, stage = t.spans
    assert stage.parent == transform.id and transform.parent is None
    assert stage.iteration == transform.iteration == 7
    assert set(t.group_wall) == {"migrate.transform@7", "migrate.stage@7"}
    total = sum(t.group_wall.values())
    assert abs(total - transform.duration) < 1e-3
    with tracing.NullTracer().span("x", group="y") as s:
        assert s is None


def test_install_wraps_where_called_and_undo_restores():
    from oracle_cassandra_migrator_spark import pipeline
    from oracle_cassandra_migrator_spark.reliability import state
    from oracle_cassandra_migrator_spark.sinks import writers

    class Holder:
        tracer = None

    original = writers.write_sink
    exists = state.LocalFSStateStore.exists
    tracer, holder = tracing.Tracer(), Holder()
    with tracing.traced(holder, tracer):
        assert holder.tracer is tracer
        assert pipeline.write_sink is not original
        assert writers.write_sink is pipeline.write_sink
        assert state.LocalFSStateStore().exists("/nonexistent/marker") is False
        assert [s.name for s in tracer.spans] == ["reliability.state.exists"]
    assert isinstance(holder.tracer, tracing.NullTracer)
    assert pipeline.write_sink is original and writers.write_sink is original
    assert state.LocalFSStateStore.exists is exists


# -- event log -------------------------------------------------------------

def test_event_log_aggregation_per_job_group():
    with open(os.path.join(HERE, "eventlog_sample.jsonl"), encoding="utf-8") as fh:
        got = tracing.aggregate_event_log(fh)
    assert set(got) == {"migrate.stage@1", "migrate.sink@1"}  # job 2 has no group
    stage = got["migrate.stage@1"]
    assert (stage.jobs, stage.tasks, stage.failed_tasks) == (1, 3, 1)
    assert stage.busy_s == 0.5 + 0.25 + 1.0
    assert stage.shuffle_bytes == 100
    # memory peaks are the largest reading of any of the group's tasks
    assert (stage.heap_peak_bytes, stage.storage_peak_bytes,
            stage.execution_peak_bytes) == (300 << 20, 9 << 20, 16 << 20)
    sink = got["migrate.sink@1"]
    # stage 1 belongs to the first job that listed it
    assert (sink.jobs, sink.tasks, sink.busy_s, sink.shuffle_bytes) == (1, 1, 0.2, 7)
    assert sink.heap_peak_bytes == 0


def test_spark_figures_cover_only_the_kept_iterations():
    # iterations 1 and 3 were kept; 2 ran (and was traced) but was set aside
    tracer = tracing.Tracer()
    events, groups = {}, {}
    for i, (tasks, busy) in {1: (4, 2.0), 2: (40, 20.0), 3: (6, 4.0)}.items():
        gid = tracing.group_id("migrate.stage", i)
        tracer.group_wall[gid] = 1.0
        groups[gid] = (2, tasks)
        events[gid] = tracing.GroupStats(jobs=2, tasks=tasks, busy_s=busy,
                                         shuffle_bytes=10 * tasks,
                                         storage_peak_bytes=i << 20)
    got = layers.spark_group_values(tracer, "migrate.stage", [1, 3], groups, events, cores=4)
    assert got == {"spark.migrate.stage.jobs": 2, "spark.migrate.stage.tasks": 5,
                   "spark.migrate.stage.executor_busy_s": 3.0,
                   "spark.migrate.stage.core_util": 0.75,
                   "spark.migrate.stage.shuffle_bytes": 50}
    assert layers.jvm_peak_values([1, 3], events)["jvm.storage_peak_mb"] == 2.0
    # a layer an iteration never reached reads 0
    assert layers.spark_group_values(tracer, "migrate.sink", [1, 3], groups, events,
                                     cores=4)["spark.migrate.sink.jobs"] == 0


# -- checks ----------------------------------------------------------------

def test_result_digest_ignores_row_and_column_order():
    a = checks.result_digest(["x", "y"], [(1, 0.1 + 0.2), (2, None)])
    b = checks.result_digest(["y", "x"], [(None, 2), (0.3, 1)])
    assert a == b
    assert a != checks.result_digest(["x", "y"], [(1, 0.3)])
    assert a != checks.result_digest(["x", "y"], [(1, 0.3), (2, None), (2, None)])


def test_multiset_diff_counts_duplicates():
    con = checks.connect({})
    left = "SELECT * FROM (VALUES (1), (1), (2)) t(x)"
    assert checks.multiset_diff(con, left, "SELECT * FROM (VALUES (2), (1), (1)) t(x)") == (3, 0, 0)
    assert checks.multiset_diff(con, left, "SELECT * FROM (VALUES (1), (2), (2)) t(x)") == (3, 1, 1)


def test_ngram_oracle_equals_the_registry_oracle(tmp_path):
    from oracle_cassandra_migrator_spark.queries import ORACLES

    texts = inputs.curate_tables(5)["documents"].column("text").to_pylist()[:300]
    texts += [t + " dup" for t in texts[:30]]  # near-duplicates inside the slice
    docs = pa.table({"doc_id": pa.array(range(len(texts)), pa.int64()), "text": texts})
    paths = inputs.write_tables({"documents": docs}, str(tmp_path))
    con = checks.connect(paths)

    def digest(sql):
        rel = con.sql(sql)
        return checks.result_digest([d[0] for d in rel.description], rel.fetchall())

    fast = con.sql(checks.ngram_jaccard_sql()).fetchall()
    assert fast, "the corpus must contain near-duplicates"
    assert digest(checks.ngram_jaccard_sql()) == digest(ORACLES["dedup_ngram_jaccard"])


# -- inputs ----------------------------------------------------------------

def test_inputs_are_a_function_of_the_seed():
    a, b = inputs.curate_tables(3), inputs.curate_tables(3)
    assert all(a[k].equals(b[k]) for k in a)
    assert not a["documents"].equals(inputs.curate_tables(4)["documents"])
    m = inputs.migrate_tables(3)
    assert {k: t.num_rows for k, t in m.items()} == {
        "customer": inputs.N_CUSTOMERS, "orders": inputs.N_ORDERS,
        "lineitem": inputs.N_LINEITEMS}
    assert m["orders"].schema.field("o_orderdate").type == pa.timestamp("us")


# -- the migrate spec ------------------------------------------------------

def test_migrate_spec_is_the_example_with_the_benchmark_overrides():
    from perfbench import workloads

    example = workloads.example_table()
    tables = {"customer": "c.parquet", "orders": "o.parquet", "lineitem": "l.parquet"}
    spec = workloads.pipeline_spec(tables, "jdbc:derby:db", 1000, 4, "/work/it")
    for key in ("name", "transform", "retry"):
        assert spec[key] == example[key]
    assert {k: v for k, v in spec["sink"].items() if k != "path"} == {
        k: v for k, v in example["sink"].items() if k != "path"}
    assert spec["sink"]["path"] == "/work/it/out"
    assert spec["transform_partitions"] == workloads.STAGED_FILES
    customer = spec["sources"]["customer"]
    assert customer["format"] == "jdbc"
    assert customer["fetch_size"] == example["__jdbc_source_example"]["fetch_size"]
    assert customer["partitioning"] == {"column": "c_custkey", "lower_bound": 1000,
                                        "upper_bound": 1000 + workloads.CUSTKEY_WINDOW - 1,
                                        "num_partitions": 4}
    assert customer["filter"].startswith("c_custkey >= 1000 AND c_custkey <= ")
    assert customer["filter"].endswith(example["sources"]["customer"]["filter"].split(
        "c_custkey <= ")[1].split(" ", 1)[1])
    for name in ("orders", "lineitem"):
        src = dict(spec["sources"][name])
        assert src.pop("path") == tables[name]
        assert src == {k: v for k, v in example["sources"][name].items() if k != "path"}
    parquet = workloads.pipeline_spec(tables, None, 1000, 4, "/work/it")
    assert parquet["sources"]["customer"]["path"] == "c.parquet"


# -- BENCHMARK.json --------------------------------------------------------

def test_benchmark_json_matches_the_catalogue():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == [
        tuple(m) for m in layers.END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        tuple(m) for m in layers.per_layer_catalogue()]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25
