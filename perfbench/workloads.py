"""The workloads. Each is driven by one closed-loop client: the next
iteration starts when the previous one has returned.

A workload runs these steps; only ``iteration`` gives timing samples:
  make_inputs  seeded input files and expected results (no Spark)
  prepare      Spark-side input loading (the Derby table)
  warm_up      one untimed iteration (counted in setup_s)
  iteration    one timed sample, with fresh directories made and
               removed outside the timed region
  after_loop   untimed follow-up: migrate's resume reruns
  check        the once-per-run correctness check
"""

from __future__ import annotations

import glob
import json
import os
import random
import re
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

from . import checks, inputs
from .layers import CURATE_QUERIES
from .stats import Attempts, tree_bytes
from .tracing import NullTracer, Tracer

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
# fixed width of the seed-chosen customer-key window
CUSTKEY_WINDOW = 10_000
STAGED_FILES = 10  # the reference's num_partitions default
# resume reruns per migrate run, and the iteration ids their spans carry
RESUME_RERUNS = 2
RESUME_FIRST_ID = 1_000_000


@dataclass
class Context:
    seed: int
    cores: int
    work: str
    spark: object = None
    tracer: Tracer = field(default_factory=NullTracer)
    tables: dict[str, str] = field(default_factory=dict)


class Workload:
    name = ""

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.rng = random.Random(ctx.seed)
        self.attempts = Attempts()
        # per measured iteration, extra per-layer readings
        self.iteration_stats: dict[int, dict[str, float]] = {}
        # timings and iteration ids of migrate's resume reruns
        self.resume_walls: list[float] = []
        self.resume_ids: list[int] = []

    def make_inputs(self) -> None: ...

    def prepare(self) -> None: ...

    def warm_up(self) -> float:
        """One untimed iteration; returns the seconds that count
        towards set-up."""
        return self._run(-1)

    def run_iteration(self, i: int) -> float | None:
        """One counted attempt: its timed seconds, or None if it raised
        or failed its per-iteration check."""
        try:
            seconds = self._run(i)
        except Exception:  # noqa: BLE001 — a failed attempt, not a crash
            traceback.print_exc(file=sys.stderr)
            self.attempts.record(False)
            return None
        self.attempts.record(True)
        return seconds

    def _run(self, i: int) -> float:
        raise NotImplementedError

    def after_loop(self) -> None:
        """Untimed follow-up work after the measured loop."""

    def check(self) -> list[str]:
        return []


# ---------------------------------------------------------------------------
# migrate / resume: the reference-shaped three-phase pipeline
# ---------------------------------------------------------------------------

EXAMPLE_CONFIG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                              "examples", "pipeline_config.json")
_CUSTKEY_RANGE = re.compile(r"c_custkey >= \d+ AND c_custkey <= \d+")


def example_table() -> dict:
    """The first table of ``examples/pipeline_config.json``: the spec
    the workload runs, changed only where ``pipeline_spec`` says."""
    with open(EXAMPLE_CONFIG, encoding="utf-8") as fh:
        return json.load(fh)["tables"][0]


def migrate_filters(lo: int, example: dict | None = None) -> dict[str, str]:
    """Per-source filters of the example spec, with its customer-key
    range replaced by the window [lo, lo + CUSTKEY_WINDOW)."""
    sources = (example or example_table())["sources"]
    filters = {name: src["filter"] for name, src in sources.items()}
    window = f"c_custkey >= {lo} AND c_custkey <= {lo + CUSTKEY_WINDOW - 1}"
    filters["customer"], n = _CUSTKEY_RANGE.subn(window, filters["customer"])
    if n != 1:
        raise ValueError(f"{EXAMPLE_CONFIG}: no customer-key range to window in "
                         f"{sources['customer']['filter']!r}")
    return filters


def pipeline_spec(tables: dict[str, str], derby_url: str | None, lo: int, cores: int,
                  root: str) -> dict:
    """The first table of ``examples/pipeline_config.json`` pointed at
    the generated inputs. Changed: the source paths, the customer-key
    window, the staging and sink directories, the transformed output
    staged in ``STAGED_FILES`` files and, when ``derby_url`` is given,
    customer read over JDBC in the shape of the example's
    ``__jdbc_source_example`` (range ``partitioning`` and ``fetch_size``:
    the reference's Oracle read path)."""
    spec = example_table()
    filters = migrate_filters(lo, spec)
    for name, src in spec["sources"].items():
        src["path"], src["filter"] = tables[name], filters[name]
    if derby_url is not None:
        jdbc = spec.pop("__jdbc_source_example")
        jdbc["options"] = {"url": derby_url, "dbtable": "customer", "driver": DERBY_DRIVER}
        jdbc["partitioning"].update(column="c_custkey", lower_bound=lo,
                                    upper_bound=lo + CUSTKEY_WINDOW - 1,
                                    num_partitions=cores)
        jdbc.update(filter=filters["customer"], alias="customer")
        spec["sources"]["customer"] = jdbc
    spec.update(staging_dir=os.path.join(root, "staging"),
                transform_partitions=STAGED_FILES)
    spec["sink"]["path"] = os.path.join(root, "out")
    return spec


class Migrate(Workload):
    name = "migrate"

    def make_inputs(self) -> None:
        ctx = self.ctx
        ctx.tables = inputs.write_tables(inputs.migrate_tables(ctx.seed),
                                         os.path.join(ctx.work, "inputs"))
        self.lo = self.rng.randrange(inputs.N_CUSTOMERS - CUSTKEY_WINDOW + 1)
        example = example_table()
        self.pipeline_name = example["name"]
        self.phases = [f"stage:{s}" for s in example["sources"]] + ["transform", "sink"]
        self.derby_url = f"jdbc:derby:{os.path.join(ctx.work, 'derby')};create=true"
        self.oracle = checks.migrate_oracle_sql(migrate_filters(self.lo))
        with checks.connect(ctx.tables) as con:
            self.expected_rows = con.sql(
                f"SELECT count(*) FROM ({self.oracle})").fetchone()[0]
        self.source_bytes = sum(os.path.getsize(p) for p in ctx.tables.values())
        self.last_root: str | None = None
        self.last_rerun: str | None = None

    def prepare(self) -> None:
        # Derby is loaded once per run; VARCHAR columns so the pushed
        # string predicate stays a plain comparison (STRING maps to CLOB)
        from oracle_cassandra_migrator_spark.sinks.writers import write_sink

        spark = self.ctx.spark
        write_sink(spark.read.parquet(self.ctx.tables["customer"]), {
            "format": "jdbc", "mode": "overwrite",
            "options": {"url": self.derby_url, "dbtable": "customer",
                        "driver": DERBY_DRIVER,
                        "createTableColumnTypes":
                            "c_name VARCHAR(32), c_mktsegment VARCHAR(16)"}})

    def spec(self, root: str) -> dict:
        return pipeline_spec(self.ctx.tables, self.derby_url, self.lo,
                             self.ctx.cores, root)

    def _iteration_root(self, i: int) -> str:
        return os.path.join(self.ctx.work, "iterations", f"{self.name}-{i}")

    def _run(self, i: int) -> float:
        from oracle_cassandra_migrator_spark.pipeline import Pipeline

        root = self._iteration_root(i)
        spec = self.spec(root)
        before = self._written(root)
        self.ctx.tracer.iteration = i
        start = time.perf_counter()
        result = Pipeline(self.ctx.spark, spec).run()
        seconds = time.perf_counter() - start
        self._record(i, before, self._written(root), result)
        self._expect(result.phases_run == self.phases,
                     f"phases {result.phases_run}")
        self._expect(result.files_written >= STAGED_FILES and result.files_skipped == 0,
                     f"files {result.files_written} written / {result.files_skipped} skipped")
        self._expect(result.transform_metrics.get("n_rows") == self.expected_rows,
                     f"n_rows {result.transform_metrics} vs {self.expected_rows}")
        self._retire(root)
        return seconds

    def _written(self, root: str) -> tuple[int, int, int, int]:
        """(raw, transformed, sink bytes, sink files) under ``root``."""
        staging = os.path.join(root, "staging", self.pipeline_name)
        raw, _ = tree_bytes(os.path.join(staging, "raw"))
        transformed, _ = tree_bytes(os.path.join(staging, "transformed"))
        sink, sink_files = tree_bytes(os.path.join(root, "out"))
        return raw, transformed, sink, sink_files

    def _record(self, i: int, before: tuple, after: tuple, result) -> None:
        """Per-iteration readings; bytes are what this run added."""
        raw, transformed, sink, sink_files = (a - b for a, b in zip(after, before))
        self.iteration_stats[i] = {
            "pipeline.files_written": result.files_written,
            "pipeline.files_skipped": result.files_skipped,
            "sinks.bytes_written.raw": raw,
            "sinks.bytes_written.transformed": transformed,
            "sinks.bytes_written.sink": sink,
            "sinks.files.sink": sink_files,
            "sinks.bytes_written_per_source_byte":
                (raw + transformed + sink) / self.source_bytes,
        }

    @staticmethod
    def _expect(ok: bool, what: str) -> None:
        if not ok:
            raise AssertionError(f"iteration check failed: {what}")

    def _retire(self, root: str) -> None:
        """Keep only the newest iteration's output (for ``check``)."""
        if self.last_root and self.last_root != root:
            shutil.rmtree(self.last_root, ignore_errors=True)
        self.last_root = root

    # -- resume: rerun after an interruption --------------------------
    def after_loop(self) -> None:
        """Interrupt copies of the last finished run and rerun them: the
        staging stays committed, a seed-chosen half of the staged files
        lose their checkpoint marker and their sink output, and the
        rerun must skip phases 1 and 2 and redo exactly those files."""
        self.template = self.last_root
        if self.template is None:
            return
        self.staged = sorted(os.path.relpath(p, self.template) for p in glob.glob(
            os.path.join(self.template, "staging", self.pipeline_name,
                         "transformed", "*.parquet")))
        self.template_sink = sorted(os.listdir(os.path.join(self.template, "out")))
        tracer, workload = self.ctx.tracer, self.ctx.tracer.workload
        tracer.workload = "resume"  # job groups resume.*
        try:
            for r in range(RESUME_RERUNS):
                i = RESUME_FIRST_ID + r
                try:
                    self.resume_walls.append(self._rerun(i))
                    self.resume_ids.append(i)
                    self.attempts.record(True)
                except Exception:  # noqa: BLE001 — a failed attempt
                    traceback.print_exc(file=sys.stderr)
                    self.attempts.record(False)
        finally:
            tracer.workload = workload

    def _rerun(self, i: int) -> float:
        from oracle_cassandra_migrator_spark.pipeline import Pipeline

        root = self._iteration_root(i)
        shutil.copytree(self.template, root)
        undone = self.rng.sample(self.staged, len(self.staged) // 2)
        for rel in undone:
            staged = os.path.join(root, rel)
            os.remove(staged + ".checkpoint")
            base = os.path.splitext(os.path.basename(staged))[0]
            for out in glob.glob(os.path.join(root, "out", f"{base}-*")):
                os.remove(out)
        spec = self.spec(root)
        before = self._written(root)
        self.ctx.tracer.iteration = i
        start = time.perf_counter()
        result = Pipeline(self.ctx.spark, spec).run()
        seconds = time.perf_counter() - start
        self._record(i, before, self._written(root), result)
        self._expect(result.phases_run == ["sink"], f"resume phases {result.phases_run}")
        # traced reruns: neither a source read nor a plan compile
        leaked = [s.name for s in self.ctx.tracer.spans if s.iteration == i
                  and s.name in ("sources.read_source", "plans.compile_transform")]
        self._expect(not leaked, f"resume called {leaked}")
        self._expect(result.files_written == len(undone)
                     and result.files_skipped == len(self.staged) - len(undone),
                     f"resume files {result.files_written} written / "
                     f"{result.files_skipped} skipped, {len(undone)} unfinished")
        self._expect(sorted(os.listdir(os.path.join(root, "out"))) == self.template_sink,
                     "resume sink file set differs from the fresh run's")
        if self.last_rerun:
            shutil.rmtree(self.last_rerun, ignore_errors=True)
        self.last_rerun = root
        return seconds

    def check(self) -> list[str]:
        if not self.last_root:
            return ["no iteration completed"]
        with checks.connect(self.ctx.tables) as con:
            return self._check(con)

    def _check(self, con) -> list[str]:
        problems = []
        n, only_sink, only_oracle = checks.multiset_diff(
            con, checks.sink_sql(os.path.join(self.last_root, "out")),
            self.oracle)
        if n != self.expected_rows or only_sink or only_oracle:
            problems.append(f"migrate: sink has {n} rows, oracle {self.expected_rows};"
                            f" {only_sink} only in sink, {only_oracle} only in oracle")
        if not self.last_rerun:
            problems.append("resume: no rerun completed")
        else:
            _, a, b = checks.multiset_diff(
                con, checks.sink_sql(os.path.join(self.last_rerun, "out")),
                checks.sink_sql(os.path.join(self.last_root, "out")))
            if a or b:
                problems.append(f"resume: {a} rows only in the rerun, "
                                f"{b} only in the fresh run")
        return problems


# ---------------------------------------------------------------------------
# curate: read-only passes over the LLM-data operator mix
# ---------------------------------------------------------------------------

class Curate(Workload):
    name = "curate"

    def make_inputs(self) -> None:
        ctx = self.ctx
        ctx.tables = inputs.write_tables(inputs.curate_tables(ctx.seed),
                                         os.path.join(ctx.work, "inputs"))
        self.sf_dir = os.path.join(ctx.work, "inputs")
        with checks.connect(ctx.tables) as con:
            self.expected = checks.curate_expected(con, list(CURATE_QUERIES))
        self.mismatches: list[str] = []

    def order(self) -> list[str]:
        names = list(CURATE_QUERIES)
        self.rng.shuffle(names)
        return names

    def warm_up(self) -> float:
        """The warm-up pass collects every result and checks it against
        its oracle; only Spark's time counts towards set-up."""
        from oracle_cassandra_migrator_spark.queries import QUERIES

        spark = self.ctx.spark
        spark_s = 0.0
        for q in self.order():
            spark.catalog.clearCache()
            start = time.perf_counter()
            try:
                df = QUERIES[q](spark, self.sf_dir)
                columns, rows = df.columns, df.collect()
            except Exception:  # noqa: BLE001 — counted, reported below
                traceback.print_exc(file=sys.stderr)
                self.mismatches.append(f"{q}: raised")
                self.attempts.record(False)
                continue
            finally:
                spark_s += time.perf_counter() - start
            ok = checks.result_digest(columns, rows) == self.expected[q]
            if not ok:
                self.mismatches.append(f"{q}: {len(rows)} rows do not match its oracle")
            self.attempts.record(ok)
        return spark_s

    def run_iteration(self, i: int) -> float | None:
        from oracle_cassandra_migrator_spark.queries import QUERIES

        spark, tracer = self.ctx.spark, self.ctx.tracer
        tracer.iteration = i
        ok_pass = True
        start = time.perf_counter()
        for q in self.order():
            spark.catalog.clearCache()
            try:
                with tracer.span(f"queries.{q}", group=q):
                    with tracer.span(f"queries.{q}.build"):
                        df = QUERIES[q](spark, self.sf_dir)
                    with tracer.span(f"queries.{q}.exec"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception:  # noqa: BLE001 — a failed attempt
                traceback.print_exc(file=sys.stderr)
                self.attempts.record(False)
                ok_pass = False
                continue
            self.attempts.record(True)
        seconds = time.perf_counter() - start
        return seconds if ok_pass else None

    def check(self) -> list[str]:
        return list(self.mismatches)


WORKLOAD_CLASSES = {w.name: w for w in (Migrate, Curate)}
