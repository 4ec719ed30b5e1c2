"""Partitioned snapshot maintenance (streaming/partitioned.py):
partial rewrite must equal the full-rewrite upsert on the same change
stream, untouched buckets must not be rewritten, orphaned
(uncommitted) versions stay invisible, and vacuum's reference
counting must never delete a version that still owns live buckets."""

import glob
import os

import pytest
from pyspark.sql import functions as F

SCHEMA = "k BIGINT, v STRING, seq INT"
N_BUCKETS = 8


def _feed(spark, src, batches):
    first = True
    for rows in batches:
        df = spark.createDataFrame(rows, SCHEMA)
        mode = "overwrite" if first else "append"
        df.coalesce(1).write.mode(mode).parquet(src)
        first = False
    return spark.createDataFrame(batches[0], SCHEMA).schema


def _run(spark, src, schema, base_dir, ckpt, n_buckets=N_BUCKETS):
    from oracle_cassandra_migrator_spark.streaming import partitioned

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = partitioned.foreach_batch_upsert_partitioned(
        stream, base_dir, ["k"], ["seq"], ckpt, n_buckets=n_buckets)
    q.awaitTermination(180)


BATCH1 = [(i, f"v{i}", i) for i in range(1, 21)]
BATCH2 = [(3, "updated-3", 100), (300, "new-300", 101)]


def test_partitioned_matches_full_rewrite_upsert(spark, tmp_path):
    from oracle_cassandra_migrator_spark.streaming import (
        partitioned, upsert)

    src_a, src_b = str(tmp_path / "a"), str(tmp_path / "b")
    schema = _feed(spark, src_a, [BATCH1, BATCH2])
    _feed(spark, src_b, [BATCH1, BATCH2])

    part_dir = str(tmp_path / "part")
    _run(spark, src_a, schema, part_dir, str(tmp_path / "ck1"))

    full_dir = str(tmp_path / "full")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(src_b))
    q = upsert.foreach_batch_upsert(
        stream, full_dir, ["k"], ["seq"], str(tmp_path / "ck2"))
    q.awaitTermination(180)

    got = {r.k: (r.v, r.seq) for r in
           partitioned.latest_partitioned_snapshot(
               spark, part_dir).collect()}
    want = {r.k: (r.v, r.seq) for r in
            upsert.latest_snapshot(spark, full_dir).collect()}
    assert got == want
    assert got[3] == ("updated-3", 100)
    assert got[300] == ("new-300", 101)
    assert len(got) == 21


def test_partial_rewrite_touches_only_batch_buckets(spark, tmp_path):
    src = str(tmp_path / "src")
    schema = _feed(spark, src, [BATCH1, BATCH2])
    base = str(tmp_path / "part")
    _run(spark, src, schema, base, str(tmp_path / "ck"))

    # batch 2 changed 2 keys -> at most 2 buckets rewritten in v1,
    # while v0 holds the full initial spread
    v0 = {os.path.basename(p) for p in glob.glob(f"{base}/v0/bucket=*")}
    v1 = {os.path.basename(p) for p in glob.glob(f"{base}/v1/bucket=*")}
    assert len(v1) <= 2
    assert len(v0) > len(v1)

    # the manifest owners agree: exactly v1's buckets point at "1"
    import json
    m = json.loads(open(f"{base}/manifest-v1.json").read())
    owned_by_1 = {f"bucket={b}" for b, v in m["owners"].items()
                  if str(v) == "1"}
    assert owned_by_1 == v1
    # untouched buckets still owned by v0 and served from there
    assert all(str(v) in ("0", "1") for v in m["owners"].values())
    # the key list is pinned in the manifest (drift validation)
    assert m["keys"] == ["k"]


def test_uncommitted_partitioned_version_is_invisible(spark, tmp_path):
    from oracle_cassandra_migrator_spark.streaming import partitioned

    src = str(tmp_path / "src")
    schema = _feed(spark, src, [BATCH1])
    base = str(tmp_path / "part")
    _run(spark, src, schema, base, str(tmp_path / "ck"))

    # orphan: version dir + manifest written, marker lost
    spark.createDataFrame([(999, "garbage", 0)], SCHEMA) \
        .withColumn("bucket", F.lit(0)) \
        .write.partitionBy("bucket").parquet(f"{base}/v9")
    open(f"{base}/manifest-v9.json", "w").write(
        '{"n_buckets": 8, "owners": {"0": 9}}')

    got = {r.k for r in partitioned.latest_partitioned_snapshot(
        spark, base).collect()}
    assert 999 not in got and len(got) == 20


def test_compact_then_vacuum_refcounts(spark, tmp_path):
    from oracle_cassandra_migrator_spark.streaming import partitioned

    src = str(tmp_path / "src")
    schema = _feed(spark, src, [BATCH1, BATCH2])
    base = str(tmp_path / "part")
    _run(spark, src, schema, base, str(tmp_path / "ck"))

    # vacuum keep_last=1 BEFORE compaction: v0 still owns live
    # buckets through manifest-v1 -> must survive
    doomed = partitioned.vacuum_partitioned(spark, base, keep_last=1)
    assert doomed == []
    assert glob.glob(f"{base}/v0/bucket=*")

    # compaction commits OUTSIDE the batch-id namespace ("1c1", not
    # "2") so it can never squat on the next micro-batch's id
    new_token = partitioned.compact_partitioned(spark, base)
    assert new_token == "1c1"
    got = {r.k: r.v for r in partitioned.latest_partitioned_snapshot(
        spark, base).collect()}
    assert len(got) == 21 and got[3] == "updated-3"

    # now nothing references v0/v1 from the kept manifest -> reclaimed
    doomed = partitioned.vacuum_partitioned(spark, base, keep_last=1)
    assert doomed == ["0", "1"]
    assert not glob.glob(f"{base}/v0")
    assert not glob.glob(f"{base}/manifest-v0.json")
    got = {r.k: r.v for r in partitioned.latest_partitioned_snapshot(
        spark, base).collect()}
    assert len(got) == 21


def test_n_buckets_mismatch_raises(spark, tmp_path):
    src = str(tmp_path / "src")
    schema = _feed(spark, src, [BATCH1])
    base = str(tmp_path / "part")
    _run(spark, src, schema, base, str(tmp_path / "ck"))

    # feeding more data with a different n_buckets must fail loudly
    spark.createDataFrame(BATCH2, SCHEMA).coalesce(1) \
        .write.mode("append").parquet(src)
    from oracle_cassandra_migrator_spark.streaming import partitioned
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = partitioned.foreach_batch_upsert_partitioned(
        stream, base, ["k"], ["seq"], str(tmp_path / "ck"),
        n_buckets=4)
    with pytest.raises(Exception, match="n_buckets mismatch"):
        try:
            q.awaitTermination(180)
        except Exception as e:
            raise RuntimeError(str(e)) from e


def test_lookup_reads_only_probe_buckets(spark, tmp_path):
    from oracle_cassandra_migrator_spark.streaming import partitioned

    src = str(tmp_path / "src")
    schema = _feed(spark, src, [BATCH1, BATCH2])
    base = str(tmp_path / "part")
    _run(spark, src, schema, base, str(tmp_path / "ck"))

    out = partitioned.lookup_keys(spark, base, ["k"], [(3,), (300,), (7,)])
    got = {r.k: (r.v, r.seq) for r in out.collect()}
    assert got == {3: ("updated-3", 100), 300: ("new-300", 101),
                   7: ("v7", 7)}
    # the physical scan is bucket-pruned: the files read come from at
    # most |distinct probe buckets| bucket dirs, not the whole snapshot
    import re
    read_dirs = {m.group() for f in out.inputFiles()
                 for m in [re.search(r"bucket=\d+", f)] if m}
    all_dirs = {os.path.basename(p)
                for p in glob.glob(f"{base}/v*/bucket=*")}
    assert 1 <= len(read_dirs) <= 3 < len(all_dirs)
    # a miss probes cleanly (empty result, not an error)
    miss = partitioned.lookup_keys(spark, base, ["k"], [(424242,)])
    assert miss.count() == 0
    # an EMPTY probe list on a committed table is not no-table: the
    # contract reserves None for no-table, so this must be an empty
    # frame with the stored schema (ADVICE r7)
    empty = partitioned.lookup_keys(spark, base, ["k"], [])
    assert empty is not None and empty.count() == 0
    assert empty.schema == out.schema


# ---------------------------------------------------------------------------
# partitioned rollup maintenance
# ---------------------------------------------------------------------------

CDC_SCHEMA = "op STRING, g STRING, new_v INT, old_v INT, seq INT"


def _run_rollup(spark, src, schema, base_dir, ckpt, n_buckets=N_BUCKETS):
    from oracle_cassandra_migrator_spark.streaming import partitioned

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = partitioned.foreach_batch_rollup_partitioned(
        stream, base_dir, ["g"], "new_v", "old_v", ckpt,
        n_buckets=n_buckets)
    q.awaitTermination(180)


def test_partitioned_rollup_matches_full_rollup(spark, tmp_path):
    from oracle_cassandra_migrator_spark.streaming import (
        partitioned, rollup)

    # 40 groups born in batch 1; batch 2 touches 2 groups + kills one
    b1 = [("I", f"g{i % 40}", i, None, i) for i in range(200)]
    b2 = [("U", "g1", 999, 1, 500), ("I", "g777", 5, None, 501),
          # g39 has 5 rows (39, 79, 119, 159, 199): delete them all
          ("D", "g39", None, 39, 502), ("D", "g39", None, 79, 503),
          ("D", "g39", None, 119, 504), ("D", "g39", None, 159, 505),
          ("D", "g39", None, 199, 506)]
    src_a, src_b = str(tmp_path / "a"), str(tmp_path / "b")
    schema = None
    for src in (src_a, src_b):
        df1 = spark.createDataFrame(b1, CDC_SCHEMA)
        df2 = spark.createDataFrame(b2, CDC_SCHEMA)
        df1.coalesce(1).write.mode("overwrite").parquet(src)
        df2.coalesce(1).write.mode("append").parquet(src)
        schema = df1.schema

    part_dir = str(tmp_path / "part")
    _run_rollup(spark, src_a, schema, part_dir, str(tmp_path / "ck1"))

    full_dir = str(tmp_path / "full")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(src_b))
    q = rollup.foreach_batch_rollup(
        stream, full_dir, ["g"], "new_v", "old_v",
        str(tmp_path / "ck2"))
    q.awaitTermination(180)

    got = {r.g: (r.n, int(r.s)) for r in
           partitioned.latest_partitioned_snapshot(
               spark, part_dir).collect()}
    want = {r.g: (r.n, int(r.s)) for r in
            rollup.latest_rollup(spark, full_dir).collect()}
    assert got == want
    assert "g39" not in got          # group death propagated
    assert got["g777"] == (1, 5)     # birth
    # partial rewrite: batch 2 touched <= 4 buckets
    v1 = glob.glob(f"{part_dir}/v1/bucket=*")
    assert 1 <= len(v1) <= 4


def test_partitioned_rollup_emptied_bucket_leaves_manifest(
        spark, tmp_path):
    from oracle_cassandra_migrator_spark.streaming import partitioned

    # one lone group in its own bucket; batch 2 deletes it entirely
    b1 = [("I", "only", 7, None, 1)]
    b2 = [("D", "only", None, 7, 2)]
    src = str(tmp_path / "src")
    df1 = spark.createDataFrame(b1, CDC_SCHEMA)
    spark.createDataFrame(b1, CDC_SCHEMA).coalesce(1) \
        .write.mode("overwrite").parquet(src)
    spark.createDataFrame(b2, CDC_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(src)
    base = str(tmp_path / "part")
    _run_rollup(spark, src, df1.schema, base, str(tmp_path / "ck"))

    import json
    m = json.loads(open(f"{base}/manifest-v1.json").read())
    assert m["owners"] == {}  # the emptied bucket left the manifest
    assert partitioned.latest_partitioned_snapshot(spark, base) is None


# ---------------------------------------------------------------------------
# review-pass regressions: compaction id collision, keys drift, sparse
# lookup, malformed CDC ops
# ---------------------------------------------------------------------------


def test_stream_resumes_correctly_after_compaction(spark, tmp_path):
    """THE collision regression: compact, then feed a new micro-batch
    on the SAME checkpoint. The next Spark batch id must not read as a
    replay of the compaction commit — its changes must land."""
    from oracle_cassandra_migrator_spark.streaming import partitioned

    src = str(tmp_path / "src")
    schema = _feed(spark, src, [BATCH1, BATCH2])
    base = str(tmp_path / "part")
    ckpt = str(tmp_path / "ck")
    _run(spark, src, schema, base, ckpt)

    assert partitioned.compact_partitioned(spark, base) == "1c1"

    # new data arrives -> Spark batch id 2
    spark.createDataFrame([(7, "updated-7", 200)], SCHEMA).coalesce(1) \
        .write.mode("append").parquet(src)
    _run(spark, src, schema, base, ckpt)

    got = {r.k: (r.v, r.seq) for r in
           partitioned.latest_partitioned_snapshot(
               spark, base).collect()}
    assert got[7] == ("updated-7", 200)  # NOT silently discarded
    assert len(got) == 21


def test_bucketing_keys_mismatch_raises(spark, tmp_path):
    from oracle_cassandra_migrator_spark.streaming import partitioned

    src = str(tmp_path / "src")
    schema = _feed(spark, src, [BATCH1])
    base = str(tmp_path / "part")
    _run(spark, src, schema, base, str(tmp_path / "ck"))

    with pytest.raises(ValueError, match="keys mismatch"):
        partitioned.lookup_keys(spark, base, ["seq"], [(1,)])


def test_lookup_on_sparse_table_returns_empty_frame(spark, tmp_path):
    """A committed table whose probe buckets are unowned must return
    an EMPTY frame (schema intact), never None (review finding: the
    old code crashed callers with AttributeError on sparse tables)."""
    from oracle_cassandra_migrator_spark.streaming import partitioned

    src = str(tmp_path / "src")
    # ONE key -> exactly one owned bucket of 64
    schema = _feed(spark, src, [[(5, "only", 1)]])
    base = str(tmp_path / "part")
    _run(spark, src, schema, base, str(tmp_path / "ck"), n_buckets=64)

    # probe many keys; at least one must hash to an unowned bucket
    out = partitioned.lookup_keys(
        spark, base, ["k"], [(i,) for i in range(100, 110)])
    assert out is not None
    assert out.count() == 0
    assert set(out.columns) == {"k", "v", "seq"}


def test_cdc_rejects_malformed_ops(spark):
    from oracle_cassandra_migrator_spark.operators import incremental

    cdc = spark.createDataFrame(
        [("T", "a", 1, None)],
        "op STRING, k STRING, new_v INT, old_v INT")
    deltas = incremental.cdc_to_group_deltas(cdc, ["k"], "new_v", "old_v")
    with pytest.raises(Exception, match="cdc op must be one of"):
        deltas.collect()


# ---------------------------------------------------------------------------
# protocol fuzz: random change streams, partitioned == full-rewrite
# ---------------------------------------------------------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=4, deadline=None)
@given(
    changes=st.lists(
        st.tuples(st.integers(0, 30),            # key
                  st.integers(0, 99)),           # value id
        min_size=1, max_size=30),
    cuts=st.lists(st.integers(1, 28), max_size=3),
    n_buckets=st.sampled_from([1, 4, 16]),
    replay=st.booleans(),
)
def test_partitioned_upsert_fuzz_matches_last_writer_wins(
        spark, tmp_path_factory, changes, cuts, n_buckets, replay):
    """Random change sequences split into random batches, random
    bucket arities, optional replay of every batch: the maintained
    partitioned snapshot must equal plain last-writer-wins over the
    whole sequence (the appliers are driven synchronously — no
    streaming machinery — via make_upsert_applier)."""
    from oracle_cassandra_migrator_spark.streaming import partitioned

    tmp = tmp_path_factory.mktemp("fuzz")
    base = str(tmp / "state")
    rows = [(k, f"val-{vid}", seq)
            for seq, (k, vid) in enumerate(changes)]
    bounds = sorted({c for c in cuts if c < len(rows)})
    batches, lo = [], 0
    for b in bounds + [len(rows)]:
        if b > lo:
            batches.append(rows[lo:b])
            lo = b

    apply = partitioned.make_upsert_applier(
        base, ["k"], ["seq"], n_buckets=n_buckets)
    for bid, batch in enumerate(batches):
        df = spark.createDataFrame(batch, SCHEMA)
        apply(df, bid)
        if replay:
            apply(df, bid)  # committed replay must be a no-op

    got = {r.k: (r.v, r.seq) for r in
           partitioned.latest_partitioned_snapshot(
               spark, base).collect()}
    want = {}
    for k, v, seq in rows:
        want[k] = (v, seq)  # last writer (highest seq) wins
    assert got == want


@settings(max_examples=4, deadline=None)
@given(
    ops=st.lists(
        st.tuples(st.sampled_from("IUD"), st.integers(0, 10 ** 6),
                  st.integers(0, 8), st.integers(-50, 50)),
        min_size=1, max_size=24),
    cuts=st.lists(st.integers(1, 22), max_size=2),
    n_buckets=st.sampled_from([1, 4, 16]),
)
def test_partitioned_rollup_fuzz_matches_recompute(
        spark, tmp_path_factory, ops, cuts, n_buckets):
    """Random consistent CDC streams over random batch splits and
    bucket arities: the partitioned rollup equals the from-scratch
    (count, sum) aggregate of the final state."""
    from oracle_cassandra_migrator_spark.streaming import partitioned

    tmp = tmp_path_factory.mktemp("fuzzr")
    base = str(tmp / "state")
    state, cdc_rows = [], []
    for kind, pick, g, val in ops:
        if kind == "I" or not state:
            state.append((f"g{g}", val))
            cdc_rows.append(("I", f"g{g}", val, None))
        else:
            idx = pick % len(state)
            old_g, old_v = state[idx]
            if kind == "D":
                state.pop(idx)
                cdc_rows.append(("D", old_g, None, old_v))
            else:
                state[idx] = (old_g, val)
                cdc_rows.append(("U", old_g, val, old_v))

    bounds = sorted({c for c in cuts if c < len(cdc_rows)})
    batches, lo = [], 0
    for b in bounds + [len(cdc_rows)]:
        if b > lo:
            batches.append(cdc_rows[lo:b])
            lo = b

    apply = partitioned.make_rollup_applier(
        base, ["g"], "new_v", "old_v", n_buckets=n_buckets)
    for bid, batch in enumerate(batches):
        df = spark.createDataFrame(
            batch, "op STRING, g STRING, new_v INT, old_v INT")
        apply(df, bid)

    snap = partitioned.latest_partitioned_snapshot(spark, base)
    got = ({r.g: (r.n, int(r.s)) for r in snap.collect()}
           if snap is not None else {})
    want = {}
    for g, v in state:
        n, s = want.get(g, (0, 0))
        want[g] = (n + 1, s + v)
    assert got == want


# ---------------------------------------------------------------------------
# schema evolution + concurrent-reader isolation (r8, VERDICT r7 item 6)
# ---------------------------------------------------------------------------


def test_schema_evolution_added_column_roundtrips(spark, tmp_path):
    """A column added mid-stream: buckets written BEFORE it read back
    with nulls (manifest-schema projection), new writes carry it, and
    the bucket-pruned lookup sees the evolved schema too."""
    from oracle_cassandra_migrator_spark.streaming import partitioned

    base = str(tmp_path / "part")
    apply = partitioned.make_upsert_applier(
        base, ["k"], ["seq"], n_buckets=N_BUCKETS)
    apply(spark.createDataFrame(BATCH1, SCHEMA), 0)
    # batch 1 brings a NEW column and touches only its own buckets
    apply(spark.createDataFrame(
        [(3, "updated-3", 100, "eu"), (300, "new-300", 101, "us")],
        SCHEMA + ", region STRING"), 1)

    snap = partitioned.latest_partitioned_snapshot(spark, base)
    assert "region" in snap.columns
    got = {r.k: (r.v, r.seq, r.region) for r in snap.collect()}
    assert len(got) == 21
    assert got[3] == ("updated-3", 100, "eu")
    assert got[300] == ("new-300", 101, "us")
    # a key in an untouched (pre-evolution) bucket null-fills
    assert got[1] == ("v1", 1, None)

    hit = partitioned.lookup_keys(spark, base, ["k"], [(1,), (300,)])
    by_k = {r.k: r.region for r in hit.collect()}
    assert by_k == {1: None, 300: "us"}

    # compaction normalizes every bucket to the evolved schema and the
    # snapshot is unchanged
    partitioned.compact_partitioned(spark, base)
    snap2 = partitioned.latest_partitioned_snapshot(spark, base)
    assert {r.k: (r.v, r.seq, r.region) for r in snap2.collect()} == got


def test_schema_evolution_type_conflict_fails_loudly(spark, tmp_path):
    """The same column name reappearing with a different type must
    abort the batch BEFORE any file lands — ambiguity here would
    corrupt every later read."""
    from oracle_cassandra_migrator_spark.streaming import partitioned

    base = str(tmp_path / "part")
    apply = partitioned.make_upsert_applier(
        base, ["k"], ["seq"], n_buckets=N_BUCKETS)
    apply(spark.createDataFrame(
        [(1, "a", 1, "eu")], SCHEMA + ", region STRING"), 0)
    with pytest.raises(ValueError, match="type conflict"):
        apply(spark.createDataFrame(
            [(1, "b", 2, 7)], SCHEMA + ", region INT"), 1)
    # nothing from the failed batch is visible
    assert not glob.glob(f"{base}/v1/*")
    snap = partitioned.latest_partitioned_snapshot(spark, base)
    assert [tuple(r) for r in snap.select("k", "v", "seq").collect()] \
        == [(1, "a", 1)]


class _CrashBeforeMarker(Exception):
    pass


def test_reader_sees_committed_view_mid_compaction(spark, tmp_path):
    """Snapshot isolation: a compaction that has written its version
    dir AND manifest but not yet its marker is invisible — a
    concurrent reader resolves the previous committed view, and the
    rerun compaction deterministically overwrites the orphan."""
    from oracle_cassandra_migrator_spark.reliability.state import (
        LocalFSStateStore)
    from oracle_cassandra_migrator_spark.streaming import partitioned

    base = str(tmp_path / "part")
    apply = partitioned.make_upsert_applier(
        base, ["k"], ["seq"], n_buckets=N_BUCKETS)
    apply(spark.createDataFrame(BATCH1, SCHEMA), 0)
    apply(spark.createDataFrame(BATCH2, SCHEMA), 1)
    before = {r.k: (r.v, r.seq) for r in
              partitioned.latest_partitioned_snapshot(
                  spark, base).collect()}

    class CrashStore(LocalFSStateStore):
        def put_marker(self, key):
            raise _CrashBeforeMarker(key)

    with pytest.raises(_CrashBeforeMarker):
        partitioned.compact_partitioned(spark, base, state=CrashStore())
    # the orphan compaction version + manifest exist on disk...
    assert glob.glob(f"{base}/v1c1/bucket=*")
    assert os.path.exists(f"{base}/manifest-v1c1.json")
    # ...but a reader mid-compaction still resolves the committed view
    mid = {r.k: (r.v, r.seq) for r in
           partitioned.latest_partitioned_snapshot(spark, base).collect()}
    assert mid == before
    hit = partitioned.lookup_keys(spark, base, ["k"], [(3,)])
    assert [(r.k, r.v) for r in hit.collect()] == [(3, "updated-3")]

    # rerun commits under the SAME token (deterministic overwrite of
    # the orphan) and the view is row-identical
    tok = partitioned.compact_partitioned(spark, base)
    assert tok == "1c1"
    after = {r.k: (r.v, r.seq) for r in
             partitioned.latest_partitioned_snapshot(
                 spark, base).collect()}
    assert after == before


def test_legacy_manifest_schema_recovered_not_narrowed(spark, tmp_path):
    """Upgrade path: a pre-evolution manifest (no schema field) must
    NOT let a narrow batch that touches only unowned buckets record
    ITS schema as the table's — the stored buckets' footers seed the
    union, so legacy columns stay visible (r8 review finding)."""
    import json as _json

    from oracle_cassandra_migrator_spark.streaming import (
        fingerprint, partitioned)

    base = str(tmp_path / "part")
    apply = partitioned.make_upsert_applier(
        base, ["k"], ["seq"], n_buckets=N_BUCKETS)
    apply(spark.createDataFrame(BATCH1, SCHEMA), 0)
    # simulate the pre-r8 manifest: strip the schema field
    mpath = f"{base}/manifest-v0.json"
    m = _json.loads(open(mpath).read())
    assert m.pop("schema", None) is not None
    # go through the Hadoop FS writer so the sidecar .crc stays valid
    fingerprint.write_text(spark, mpath, _json.dumps(m))

    # a batch WITHOUT the v column, touching only its own bucket
    apply(spark.createDataFrame([(424242, 999)], "k BIGINT, seq INT"), 1)

    snap = partitioned.latest_partitioned_snapshot(spark, base)
    assert set(snap.columns) == {"k", "v", "seq"}
    got = {r.k: r.v for r in snap.collect()}
    assert got[1] == "v1" and len(got) == 21
    assert got[424242] is None  # the narrow insert null-fills v
    # and the recovered union schema is now recorded going forward
    m1 = _json.loads(open(f"{base}/manifest-v1.json").read())
    assert "v string" in m1["schema"]
