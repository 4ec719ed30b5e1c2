"""The metric catalogue (``BENCHMARK.json`` lists the same names) and
the per-layer table computed from one traced run."""

from __future__ import annotations

import statistics
from collections import defaultdict

from .tracing import GroupStats, Span, Tracer, group_id, per_iteration, self_times

CURATE_QUERIES = (
    "dedup_exact_documents", "dedup_minhash_lsh", "dedup_ngram_jaccard",
    "sim_topk_bruteforce", "sim_ann_lsh_exact", "text_bpe_token_counts",
    "udf_embedding_norms",
)
SPARK_GROUPS = (["migrate.stage", "migrate.transform", "migrate.sink", "resume.sink"]
                + [f"curate.{q}" for q in CURATE_QUERIES])
SELF_LAYERS = ("pipeline", "sources", "plans", "sinks", "reliability", "queries")

# (name, unit, better)
END_TO_END = [
    ("wall_p50_s", "s", "lower"),
    ("setup_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
]

# per job group and iteration: figure -> (unit, better)
SPARK_FIGURES = {
    "jobs": ("count", "lower"),
    "tasks": ("count", "lower"),
    "executor_busy_s": ("s", "lower"),
    "core_util": ("ratio", "higher"),
    "shuffle_bytes": ("bytes", "lower"),
}

# executor memory peaks of an iteration: metric -> GroupStats field.
# The driver's RSS (peak_rss_mb) tracks the heap's size, which a busy
# run grows close to its limit; these read what the heap holds.
JVM_PEAKS = {
    "jvm.heap_used_peak_mb": "heap_peak_bytes",
    "jvm.storage_peak_mb": "storage_peak_bytes",
    "jvm.execution_peak_mb": "execution_peak_bytes",
}

# spans counted or timed per iteration: metric prefix -> span name
_CALLS = {
    "sources.read_source": "sources.read_source",
    "plans.compile_transform": "plans.compile_transform",
    "sinks.write_sink": "sinks.write_sink",
    "sinks.write_file_idempotent": "sinks.write_file_idempotent",
    "reliability.state.exists": "reliability.state.exists",
    "reliability.state.put_marker": "reliability.state.put_marker",
    "reliability.state.list": "reliability.state.list",
}
_TIMES = {
    "sources.read_source.s": "sources.read_source",
    "sources.read_table.s": "sources.read_table",
    "plans.compile_transform.s": "plans.compile_transform",
    "sinks.write_sink.s": "sinks.write_sink",
    "sinks.write_file_idempotent.s": "sinks.write_file_idempotent",
    "reliability.progress.s": "reliability.progress",
}
_PHASES = {
    "pipeline.stage_sources.s": "pipeline.stage_sources",
    "pipeline.transform.s": "pipeline.transform",
    "pipeline.sink.s": "pipeline.sink",
}
# readings the workload takes itself, per iteration
ITERATION_STATS = [
    ("pipeline.files_written", "count", "lower"),
    ("pipeline.files_skipped", "count", "higher"),
    ("sinks.bytes_written.raw", "bytes", "lower"),
    ("sinks.bytes_written.transformed", "bytes", "lower"),
    ("sinks.bytes_written.sink", "bytes", "lower"),
    ("sinks.files.sink", "count", "lower"),
    ("sinks.bytes_written_per_source_byte", "ratio", "lower"),
]

# the resume reruns of a migrate run, reported under "resume."
RESUME = [
    ("wall_s", "s", "lower"),
    ("sources.read_source.calls", "count", "lower"),
    ("plans.compile_transform.calls", "count", "lower"),
    ("pipeline.sink.s", "s", "lower"),
    ("pipeline.files_written", "count", "lower"),
    ("pipeline.files_skipped", "count", "higher"),
    ("sinks.write_file_idempotent.calls", "count", "lower"),
    ("sinks.write_file_idempotent.s", "s", "lower"),
    ("sinks.bytes_written.sink", "bytes", "lower"),
    ("reliability.state.exists.calls", "count", "lower"),
    ("reliability.state.put_marker.calls", "count", "lower"),
    ("reliability.state.list.calls", "count", "lower"),
    ("reliability.state.s", "s", "lower"),
    ("reliability.progress.s", "s", "lower"),
]


def per_layer_catalogue() -> list[tuple[str, str, str]]:
    out = [("session.build_s", "s", "lower")]
    out += [(f"{k}.calls", "count", "lower") for k in _CALLS]
    out += [(k, "s", "lower") for k in _TIMES]
    out += [(k, "s", "lower") for k in _PHASES]
    out += ITERATION_STATS
    out += [("reliability.state.s", "s", "lower"),
            ("reliability.retry.attempts", "count", "lower")]
    for q in CURATE_QUERIES:
        out += [(f"queries.{q}.build_s", "s", "lower"),
                (f"queries.{q}.exec_s", "s", "lower")]
    out += [(f"resume.{k}", u, b) for k, u, b in RESUME]
    for g in SPARK_GROUPS:
        out += [(f"spark.{g}.{k}", unit, better)
                for k, (unit, better) in SPARK_FIGURES.items()]
    out += [("spark.failed_tasks", "count", "lower")]
    out += [(k, "MB", "lower") for k in JVM_PEAKS]
    out += [(f"self.{layer}_s", "s", "lower") for layer in SELF_LAYERS]
    out += [("host.calib_before_s", "s", "lower"),
            ("host.calib_after_s", "s", "lower"),
            ("host.loadavg", "load", "lower"),
            ("host.steal_share", "ratio", "lower"),
            ("trace.overhead_s", "s", "lower"),
            ("failed_ratio", "ratio", "lower")]
    return out


def median_or_zero(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def span_values(tracer: Tracer, iterations: list[int],
                iteration_stats: dict[int, dict[str, float]]) -> dict[str, float]:
    """The span- and iteration-based numbers of the given iterations:
    medians over the iterations of per-iteration sums."""
    spans = tracer.spans

    def med(select, value=Span.duration.fget) -> float:
        return median_or_zero(per_iteration(spans, value, select, iterations))

    out: dict[str, float] = {}
    for key, name in _CALLS.items():
        out[f"{key}.calls"] = med(lambda s, n=name: s.name == n, lambda s: 1.0)
    for key, name in _TIMES.items():
        out[key] = med(lambda s, n=name: s.name == n)
    # a phase's time excludes the phases nested in it (stage_sources
    # runs inside stage_transformed), so stage + transform + sink ~ run
    phase_self = self_times(spans, within=lambda s: s.name in _PHASES.values())
    for key, name in _PHASES.items():
        out[key] = med(lambda s, n=name: s.name == n, lambda s: phase_self[s.id])
    for key, _unit, _better in ITERATION_STATS:
        out[key] = median_or_zero([iteration_stats[i][key] for i in iterations
                            if key in iteration_stats.get(i, {})])
    out["reliability.state.s"] = med(lambda s: s.name.startswith("reliability.state."))
    out["reliability.retry.attempts"] = med(
        lambda s: s.name == "pipeline.write_one_file", lambda s: 1.0)
    for q in CURATE_QUERIES:
        out[f"queries.{q}.build_s"] = med(lambda s, q=q: s.name == f"queries.{q}.build")
        out[f"queries.{q}.exec_s"] = med(lambda s, q=q: s.name == f"queries.{q}.exec")
    own = self_times(spans)
    for layer in SELF_LAYERS:
        out[f"self.{layer}_s"] = med(lambda s, l=layer: s.layer == l, lambda s: own[s.id])
    return out


def spark_group_values(tracer: Tracer, group: str, iterations: list[int],
                       groups: dict[str, tuple[int, int]],
                       events: dict[str, GroupStats], cores: int) -> dict[str, float]:
    """``spark.<group>.*``: medians over the given iterations of the
    figures of that iteration's own job group, so iterations that ran
    but were not kept (set aside, failed) count in neither numerator nor
    denominator."""
    per: dict[str, list[float]] = defaultdict(list)
    for i in iterations:
        gid = group_id(group, i)
        jobs, tasks = groups.get(gid, (0, 0))
        ev = events.get(gid, GroupStats())
        wall = tracer.group_wall.get(gid, 0.0)
        per["jobs"].append(jobs)
        per["tasks"].append(tasks)
        per["executor_busy_s"].append(ev.busy_s)
        per["core_util"].append(ev.busy_s / (wall * cores) if wall else 0.0)
        per["shuffle_bytes"].append(ev.shuffle_bytes)
    return {f"spark.{group}.{k}": median_or_zero(per[k]) for k in SPARK_FIGURES}


def jvm_peak_values(iterations: list[int], events: dict[str, GroupStats]
                    ) -> dict[str, float]:
    """``jvm.*``: medians over the given iterations of the largest
    executor memory reading in any of the iteration's job groups."""
    out = {}
    for key, attr in JVM_PEAKS.items():
        per = [max((getattr(ev, attr) for g in SPARK_GROUPS
                    if (ev := events.get(group_id(g, i))) is not None), default=0)
               for i in iterations]
        out[key] = median_or_zero(per) / 2**20
    return out


def per_layer_values(tracer: Tracer, iterations: list[int], resume_ids: list[int],
                     iteration_stats: dict[int, dict[str, float]],
                     groups: dict[str, tuple[int, int]],
                     events: dict[str, GroupStats], cores: int,
                     extra: dict[str, float]) -> dict[str, float]:
    """Every per-layer metric of one traced run: medians over the kept
    traced iterations (``resume.*`` and ``spark.resume.*``: over the
    kept resume reruns). ``spark.failed_tasks`` is the run's total.
    Layers a workload never reaches read 0."""
    out = span_values(tracer, iterations, iteration_stats)
    rerun = span_values(tracer, resume_ids, iteration_stats)
    for key, _unit, _better in RESUME:
        if key in rerun:
            out[f"resume.{key}"] = rerun[key]
    for g in SPARK_GROUPS:
        ids = resume_ids if g.startswith("resume.") else iterations
        out.update(spark_group_values(tracer, g, ids, groups, events, cores))
    out["spark.failed_tasks"] = sum(ev.failed_tasks for ev in events.values())
    out.update(jvm_peak_values(iterations, events))
    out.update(extra)
    return out
