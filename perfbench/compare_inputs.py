#!/usr/bin/env python3
"""Compare the benchmark's generated inputs with a testdata directory on
the figures that drive the workloads' cost.

    python3 perfbench/compare_inputs.py TESTDATA_DIR [--seeds 1 2 3] [--spark]

TESTDATA_DIR holds customer/orders/lineitem/documents/embeddings
.parquet (the sf0.1 set the repository's tests use). Prints one column
per corpus: the testdata, then the tables ``perfbench/inputs.py`` makes
for each seed. DuckDB figures always; with ``--spark`` also the time of
a Parquet-only migrate iteration and of a curate pass, and each curate
query's share of the pass (medians of 3 rounds after one warm-up), on
``local[nproc]``.
Run from the root of a checkout; scratch files go to
``.perfbench_work/`` and are removed.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# the JVM-spawned Python workers import the package from here too
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

from perfbench import checks, inputs  # noqa: E402
from perfbench.layers import CURATE_QUERIES  # noqa: E402
from perfbench.workloads import CUSTKEY_WINDOW, migrate_filters, pipeline_spec  # noqa: E402

TABLES = inputs.MIGRATE_TABLES + inputs.CURATE_TABLES
WINDOWS = (0, (inputs.N_CUSTOMERS - CUSTKEY_WINDOW) // 2, inputs.N_CUSTOMERS - CUSTKEY_WINDOW)


def duckdb_figures(tables: dict[str, str]) -> dict[str, float]:
    from oracle_cassandra_migrator_spark.queries.extensions import _SHINGLE_CTE

    out: dict[str, float] = {}
    with checks.connect(tables) as con:
        for name, path in tables.items():
            out[f"{name}.rows"] = con.sql(f"SELECT count(*) FROM {name}").fetchone()[0]
            out[f"{name}.parquet_bytes"] = os.path.getsize(path)
        for name, flt in migrate_filters(WINDOWS[1]).items():
            out[f"{name}.rows_after_filter"] = con.sql(
                f"SELECT count(*) FROM {name} WHERE {flt}").fetchone()[0]
        for lo in WINDOWS:
            out[f"migrate.output_rows@{lo}"] = con.sql(
                f"SELECT count(*) FROM ({checks.migrate_oracle_sql(migrate_filters(lo))})"
            ).fetchone()[0]
        words, shingles, distinct, pairs = con.sql(f"""
            WITH {_SHINGLE_CTE},
            df AS (SELECT tok, count(*) AS c
                   FROM (SELECT unnest(shingles) AS tok FROM sh) GROUP BY tok)
            SELECT (SELECT avg(len(w)) FROM norm), (SELECT avg(len(shingles)) FROM sh),
                   (SELECT count(*) FROM df), (SELECT sum(c * (c - 1) / 2) FROM df)
        """).fetchone()
        out["documents.words_per_doc"] = words
        out["documents.shingles_per_doc"] = shingles
        out["documents.distinct_shingles"] = distinct
        # rows of the shingle self-join that candidate generation shuffles
        out["ngram.shingle_pair_rows"] = pairs
        for q in ("dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_exact_documents"):
            out[f"{q}.rows"] = con.sql(
                f"SELECT count(*) FROM ({checks.curate_oracle_sql(q)})").fetchone()[0]
    return out


def spark_figures(spark, corpora: dict[str, dict[str, str]], work: str,
                  cores: int, rounds: int = 3) -> dict[str, dict[str, float]]:
    """Per corpus: medians over ``rounds`` of one Parquet-only migrate
    iteration and one curate pass. The corpora take turns within each
    round, after one warm-up of each, so JIT warm-up and host drift do
    not favour the corpus measured first."""
    from oracle_cassandra_migrator_spark.pipeline import Pipeline
    from oracle_cassandra_migrator_spark.queries import QUERIES

    def migrate_once(tables: dict[str, str]) -> float:
        root = os.path.join(work, "migrate")
        spec = pipeline_spec(tables, None, WINDOWS[1], cores, root)
        start = time.perf_counter()
        Pipeline(spark, spec).run()
        seconds = time.perf_counter() - start
        shutil.rmtree(root)
        return seconds

    def curate_pass(tables: dict[str, str]) -> dict[str, float]:
        times = {}
        for q in CURATE_QUERIES:
            spark.catalog.clearCache()
            start = time.perf_counter()
            QUERIES[q](spark, os.path.dirname(tables["documents"])).write.format(
                "noop").mode("overwrite").save()
            times[q] = time.perf_counter() - start
        return times

    for tables in corpora.values():
        migrate_once(tables)
        curate_pass(tables)
    migrate: dict[str, list[float]] = {name: [] for name in corpora}
    passes: dict[str, list[dict[str, float]]] = {name: [] for name in corpora}
    for _ in range(rounds):
        for name, tables in corpora.items():
            migrate[name].append(migrate_once(tables))
            passes[name].append(curate_pass(tables))
    out = {}
    for name in corpora:
        totals = [sum(p.values()) for p in passes[name]]
        out[name] = {"spark.migrate_parquet_s": statistics.median(migrate[name]),
                     "spark.curate_pass_s": statistics.median(totals)}
        for q in CURATE_QUERIES:
            out[name][f"spark.{q}.share"] = statistics.median(
                p[q] / t for p, t in zip(passes[name], totals))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("testdata")
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3])
    ap.add_argument("--spark", action="store_true")
    args = ap.parse_args()

    work = os.path.join(ROOT, ".perfbench_work", f"compare-{os.getpid()}")
    corpora = {"testdata": {t: os.path.join(args.testdata, f"{t}.parquet") for t in TABLES}}
    for seed in args.seeds:
        made = inputs.migrate_tables(seed) | inputs.curate_tables(seed)
        corpora[f"seed {seed}"] = inputs.write_tables(made, os.path.join(work, f"seed{seed}"))
    spark = None
    try:
        figures = {name: duckdb_figures(t) for name, t in corpora.items()}
        if args.spark:
            from oracle_cassandra_migrator_spark.session import build_session

            cores = len(os.sched_getaffinity(0))
            os.chdir(work)  # derby.log and spark-warehouse stay in scratch
            spark = build_session(app_name="perfbench-compare", master=f"local[{cores}]",
                                  conf={"spark.sql.shuffle.partitions": str(cores),
                                        "spark.ui.showConsoleProgress": "false"})
            spark.sparkContext.setLogLevel("ERROR")
            for name, timed in spark_figures(spark, corpora, work, cores).items():
                figures[name].update(timed)
    finally:
        if spark is not None:
            spark.stop()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    print(f"{'figure':38s}" + "".join(f"{name:>14s}" for name in figures))
    for key in figures["testdata"]:
        cells = (figures[name][key] for name in figures)
        print(f"{key:38s}" + "".join(
            f"{v:>14.0f}" if abs(v) >= 100 else f"{v:>14.3f}" for v in cells))
    return 0


if __name__ == "__main__":
    sys.exit(main())
