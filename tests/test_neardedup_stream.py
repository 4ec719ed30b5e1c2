"""Streaming near-dup admission (streaming/neardedup.py): planted
near-dups across micro-batches must be rejected by the signature
estimate against the admitted state, novel docs admitted, replays
no-ops, and the stream must equal a batch-mode replay of the same
batch sequence (stream==batch parity)."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING")


BASE = ("the quick brown fox jumps over the lazy dog while the "
        "cat naps in the warm afternoon sun near the garden wall")
NOVEL = ("completely different content about distributed query "
         "engines shuffling partitioned columnar data across many "
         "executor nodes with adaptive optimization")


def test_admit_batch_semantics(spark):
    from oracle_cassandra_migrator_spark.streaming import neardedup

    # batch 1: base doc + its near-dup (one word changed) + novel
    b1 = _mk_docs(spark, [
        (1, BASE),
        (2, BASE.replace("afternoon", "evening")),
        (3, NOVEL),
    ])
    sigs1, bands1 = neardedup.admit_batch(
        b1, None, None, "text", "doc_id")
    admitted1 = {r["doc_id"] for r in sigs1.collect()}
    # min-id-wins: 1 admitted, 2 dropped as its near-dup, 3 novel
    assert admitted1 == {1, 3}

    # materialize state (what foreachBatch persists), then batch 2:
    # a near-dup of ADMITTED doc 1, an exact resend of doc 3's text,
    # and a new novel doc
    sigs1 = sigs1.cache()
    bands1 = bands1.cache()
    b2 = _mk_docs(spark, [
        (10, BASE.replace("garden", "stone")),
        (11, NOVEL),
        (12, "unrelated text about birds migrating south before "
             "winter storms arrive across the northern mountain"),
    ])
    sigs2, _ = neardedup.admit_batch(
        b2, sigs1, bands1, "text", "doc_id")
    admitted2 = {r["doc_id"] for r in sigs2.collect()}
    assert admitted2 == {12}


def test_stream_near_dedup_end_to_end(spark, tmp_path):
    from oracle_cassandra_migrator_spark.streaming import neardedup

    # two source files -> two micro-batches (maxFilesPerTrigger=1)
    src = str(tmp_path / "src")
    b1 = _mk_docs(spark, [
        (1, BASE), (2, BASE.replace("afternoon", "evening")), (3, NOVEL)])
    b2 = _mk_docs(spark, [
        (10, BASE.replace("garden", "stone")), (11, NOVEL),
        (12, "unrelated text about birds migrating south before "
             "winter storms arrive across the northern mountain")])
    b1.coalesce(1).write.mode("overwrite").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)

    base_dir = str(tmp_path / "state")
    stream = (spark.readStream.schema(b1.schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = neardedup.foreach_batch_near_dedup(
        stream, base_dir, str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    sigs, bands = neardedup.read_state(spark, base_dir)
    admitted = sorted(r["doc_id"] for r in sigs.collect())
    # order of file pickup is filename order = write order here; the
    # two batches must admit {1, 3} then {12} (see admit_batch test)
    assert admitted == [1, 3, 12]
    # band index rows exist for every admitted doc, none for dropped
    assert (sorted({r["doc_id"] for r in bands.collect()})
            == [1, 3, 12])

    # replay: a second run over the same source with a FRESH
    # checkpoint re-delivers the batches; markers must no-op them
    import glob

    n_sig_files = len(glob.glob(f"{base_dir}/sigs-v*/part-*"))
    stream2 = (spark.readStream.schema(b1.schema)
               .option("maxFilesPerTrigger", "1").parquet(src))
    q2 = neardedup.foreach_batch_near_dedup(
        stream2, base_dir, str(tmp_path / "ckpt2"))
    q2.awaitTermination(180)
    sigs_after, _ = neardedup.read_state(spark, base_dir)
    assert sorted(r["doc_id"] for r in sigs_after.collect()) == [1, 3, 12]
    assert len(glob.glob(f"{base_dir}/sigs-v*/part-*")) == n_sig_files


def test_stream_matches_batch_replay(spark, tmp_path):
    """Feeding real documents through the stream equals replaying the
    same partitioning of the corpus through admit_batch sequentially —
    the stream==batch parity pin on real data."""
    from oracle_cassandra_migrator_spark.sources.testdata import read_table
    from oracle_cassandra_migrator_spark.streaming import neardedup

    docs = read_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    lo = docs.where("doc_id % 2 = 0")
    hi = docs.where("doc_id % 2 = 1")

    src = str(tmp_path / "src")
    lo.coalesce(1).write.mode("overwrite").parquet(src)
    hi.coalesce(1).write.mode("append").parquet(src)

    base_dir = str(tmp_path / "state")
    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = neardedup.foreach_batch_near_dedup(
        stream, base_dir, str(tmp_path / "ckpt"))
    q.awaitTermination(300)
    got, _ = neardedup.read_state(spark, base_dir)
    got_ids = sorted(r["doc_id"] for r in got.collect())

    # batch replay of the same two-batch split
    s1, b1 = neardedup.admit_batch(lo, None, None, "text", "doc_id")
    s1, b1 = s1.cache(), b1.cache()
    s2, _ = neardedup.admit_batch(hi, s1, b1, "text", "doc_id")
    want_ids = sorted(r["doc_id"] for r in s1.collect()) \
        + sorted(r["doc_id"] for r in s2.collect())
    assert got_ids == sorted(want_ids)
    assert 0 < len(got_ids) <= docs.count()


def test_uncommitted_state_versions_are_invisible(spark, tmp_path):
    """Crash between append and marker: the orphan sigs-v*/bands-v*
    dirs must not be read (marker-committed reads only), and the
    replayed batch recomputes and overwrites them."""
    from oracle_cassandra_migrator_spark.streaming import neardedup

    base_dir = str(tmp_path / "state")
    b1 = _mk_docs(spark, [(1, BASE), (3, NOVEL)])
    sigs1, bands1 = neardedup.admit_batch(b1, None, None, "text", "doc_id")
    # simulate the crash: data written, marker never placed
    sigs1.write.mode("overwrite").parquet(f"{base_dir}/sigs-v0")
    bands1.write.mode("overwrite").parquet(f"{base_dir}/bands-v0")
    got_sigs, got_bands = neardedup.read_state(spark, base_dir)
    assert got_sigs is None and got_bands is None

    # the stream replays batch 0, recomputes, overwrites, commits
    src = str(tmp_path / "src")
    b1.coalesce(1).write.mode("overwrite").parquet(src)
    stream = (spark.readStream.schema(b1.schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = neardedup.foreach_batch_near_dedup(
        stream, base_dir, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    sigs, _ = neardedup.read_state(spark, base_dir)
    assert sorted(r["doc_id"] for r in sigs.collect()) == [1, 3]


def test_admission_is_partitioning_invariant(spark):
    """The admitted set must depend on ids and content only — never on
    physical partitioning (cluster-size / task-layout independence)."""
    from oracle_cassandra_migrator_spark.sources.testdata import read_table
    from oracle_cassandra_migrator_spark.streaming import neardedup

    docs = read_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    a, _ = neardedup.admit_batch(docs, None, None, "text", "doc_id")
    b, _ = neardedup.admit_batch(docs.repartition(13), None, None,
                                 "text", "doc_id")
    assert ({r["doc_id"] for r in a.collect()}
            == {r["doc_id"] for r in b.collect()})


def test_exact_resend_always_rejected_vs_state(spark):
    """Identical text => identical signature => estimate 1.0 >= any
    threshold: an exact re-send can never re-enter past the state."""
    from oracle_cassandra_migrator_spark.sources.testdata import read_table
    from oracle_cassandra_migrator_spark.streaming import neardedup

    docs = read_table(spark, SF_SMALL, "documents").select(
        "doc_id", "text").limit(50)
    s1, b1 = neardedup.admit_batch(docs, None, None, "text", "doc_id")
    s1, b1 = s1.cache(), b1.cache()
    resend = docs.selectExpr("doc_id + 1000000 AS doc_id", "text")
    s2, _ = neardedup.admit_batch(resend, s1, b1, "text", "doc_id")
    assert s2.count() == 0


def test_zero_shingle_docs_are_admitted_not_lost(spark):
    """Docs with fewer than n words have no shingles, cannot be
    near-dups of anything, and must pass the gate with n_sh=0 —
    pre-r8 they vanished in the explode (ADVICE r7)."""
    from oracle_cassandra_migrator_spark.streaming import neardedup

    b1 = _mk_docs(spark, [(1, BASE), (2, "two words"), (3, "one")])
    sigs1, bands1 = neardedup.admit_batch(
        b1, None, None, "text", "doc_id")
    rows = {r["doc_id"]: r["n_sh"] for r in sigs1.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[2] == 0 and rows[3] == 0

    # across batches: a DIFFERENT short doc is also admitted (distinct
    # sentinel signatures never estimate-match), while a real near-dup
    # of admitted doc 1 is still rejected against the state
    sigs1, bands1 = sigs1.cache(), bands1.cache()
    b2 = _mk_docs(spark, [
        (10, "tiny doc"),
        (11, BASE.replace("garden", "stone")),
    ])
    sigs2, _ = neardedup.admit_batch(
        b2, sigs1, bands1, "text", "doc_id")
    assert {r["doc_id"] for r in sigs2.collect()} == {10}


def test_within_batch_band_cap_bounds_candidates(spark):
    """The intra-batch self-join honors max_band_size like the state
    probe (ADVICE r7): docs in an over-full band stop being candidates
    of each other, bounding a degenerate boilerplate batch."""
    from oracle_cassandra_migrator_spark.streaming import neardedup

    b = _mk_docs(spark, [(1, BASE), (2, BASE), (3, BASE)])
    sigs_default, _ = neardedup.admit_batch(
        b, None, None, "text", "doc_id")
    assert {r["doc_id"] for r in sigs_default.collect()} == {1}
    # every band key holds 3 identical rows > cap 2 -> no candidates
    sigs_capped, _ = neardedup.admit_batch(
        b, None, None, "text", "doc_id", max_band_size=2)
    assert {r["doc_id"] for r in sigs_capped.collect()} == {1, 2, 3}


def test_compaction_halves_files_identical_admissions(spark, tmp_path):
    """VERDICT r8 item 4: the admitted-state index grows a version per
    micro-batch forever; compact_near_dedup rewrites the live state
    into one '<base>c<k>' version (outside the stream batch-id
    namespace) and vacuum reclaims the rest — with byte-identical
    state rows and identical admission decisions for the next batch."""
    import glob

    from oracle_cassandra_migrator_spark.sources.testdata import read_table
    from oracle_cassandra_migrator_spark.streaming import neardedup

    docs = read_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    parts = [docs.where(f"doc_id % 4 = {i}") for i in range(4)]

    # three micro-batches through the stream
    src = str(tmp_path / "src")
    parts[0].coalesce(1).write.mode("overwrite").parquet(src)
    parts[1].coalesce(1).write.mode("append").parquet(src)
    parts[2].coalesce(1).write.mode("append").parquet(src)
    base_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    neardedup.foreach_batch_near_dedup(
        stream, base_dir, ckpt).awaitTermination(300)

    sigs_pre, bands_pre = neardedup.read_state(spark, base_dir)
    state_sig_rows = sorted(map(tuple, sigs_pre.collect()))
    state_band_rows = sorted(map(tuple, bands_pre.collect()))
    # reference: batch-mode admission of part 4 against the
    # UNCOMPACTED state
    ref_sigs, _ = neardedup.admit_batch(
        parts[3], sigs_pre, bands_pre, "text", "doc_id")
    want_next = sorted(r["doc_id"] for r in ref_sigs.collect())

    files_pre = len(glob.glob(f"{base_dir}/sigs-v*/part-*")) \
        + len(glob.glob(f"{base_dir}/bands-v*/part-*"))
    token = neardedup.compact_near_dedup(spark, base_dir)
    assert "c" in token
    doomed = neardedup.vacuum_near_dedup(spark, base_dir)
    assert doomed and all("c" not in t for t in doomed)
    # every doomed marker is reclaimed (a retained stale marker could
    # swallow a same-id batch of a later fresh-checkpoint run); replay
    # of a vacuumed batch is safe by IDEMPOTENCE instead — re-running
    # batch 2's data against the compacted state admits nothing
    markers = sorted(glob.glob(f"{base_dir}/markers/*.marker"))
    assert markers == [f"{base_dir}/markers/batch-2c1.marker"]
    sigs_c, bands_c = neardedup.read_state(spark, base_dir)
    replay_sigs, _ = neardedup.admit_batch(
        parts[2], sigs_c, bands_c, "text", "doc_id")
    assert replay_sigs.count() == 0
    files_post = len(glob.glob(f"{base_dir}/sigs-v*/part-*")) \
        + len(glob.glob(f"{base_dir}/bands-v*/part-*"))
    assert files_post <= files_pre // 2, (files_pre, files_post)
    # superseded version dirs are gone, only the compacted one remains
    assert glob.glob(f"{base_dir}/sigs-v*") == [
        f"{base_dir}/sigs-v{token}"]

    # state rows byte-identical across compact+vacuum
    sigs_post, bands_post = neardedup.read_state(spark, base_dir)
    assert sorted(map(tuple, sigs_post.collect())) == state_sig_rows
    assert sorted(map(tuple, bands_post.collect())) == state_band_rows

    # the NEXT micro-batch (same checkpoint, so batch ids continue —
    # never reuse a committed id) admits exactly the reference set
    parts[3].coalesce(1).write.mode("append").parquet(src)
    stream2 = (spark.readStream.schema(docs.schema)
               .option("maxFilesPerTrigger", "1").parquet(src))
    neardedup.foreach_batch_near_dedup(
        stream2, base_dir, ckpt).awaitTermination(300)
    sigs_final, _ = neardedup.read_state(spark, base_dir)
    got_all = sorted(r["doc_id"] for r in sigs_final.collect())
    assert got_all == sorted(
        [r[0] for r in state_sig_rows] + want_next)
    assert len(want_next) > 0


def test_compact_requires_committed_state(spark, tmp_path):
    from oracle_cassandra_migrator_spark.streaming import neardedup

    with pytest.raises(ValueError, match="nothing to compact"):
        neardedup.compact_near_dedup(spark, str(tmp_path / "empty"))


def test_overcap_replayed_doc_never_readmitted(spark):
    """ADVICE r9 (low): the marker-vacuum replay contract rests on
    admission idempotence, but the capped state probe skips band
    groups larger than max_band_size — so a replayed already-admitted
    doc whose band keys are ALL over-cap never collided with its own
    state signature and was re-admitted. The exact-doc_id anti-join
    must drop it regardless of capping."""
    from oracle_cassandra_migrator_spark.streaming import neardedup

    # cap=2 admits all three identical docs (no candidates — pinned in
    # test_within_batch_band_cap_bounds_candidates), so every band key
    # now holds 3 state rows > cap: the banded probe is blind here
    b1 = _mk_docs(spark, [(1, BASE), (2, BASE), (3, BASE)])
    sigs1, bands1 = neardedup.admit_batch(
        b1, None, None, "text", "doc_id", max_band_size=2)
    sigs1, bands1 = sigs1.cache(), bands1.cache()
    assert sigs1.count() == 3

    replay = _mk_docs(spark, [(2, BASE)])
    sigs2, bands2 = neardedup.admit_batch(
        replay, sigs1, bands1, "text", "doc_id", max_band_size=2)
    assert sigs2.count() == 0, "replayed admitted doc re-admitted"
    assert bands2.count() == 0


def test_fresh_checkpoint_over_compacted_state_refused(spark, tmp_path):
    """ADVICE r9 (medium): a fresh-checkpoint run over an
    already-compacted base_dir restarts batch ids at 0 — below the
    compaction token — so its versions would be invisible to
    _live_tokens stitching and reclaimed by the next vacuum: silent
    permanent loss of its admissions. Non-empty admissions below the
    compaction token cannot be a replay (admission is idempotent), so
    the gate must fail LOUDLY instead of committing them."""
    from oracle_cassandra_migrator_spark.streaming import neardedup

    src = str(tmp_path / "src")
    b1 = _mk_docs(spark, [(1, BASE)])
    b2 = _mk_docs(spark, [(2, NOVEL)])
    b1.coalesce(1).write.mode("overwrite").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    base_dir = str(tmp_path / "state")
    stream = (spark.readStream.schema(b1.schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    neardedup.foreach_batch_near_dedup(
        stream, base_dir, str(tmp_path / "ckpt")).awaitTermination(180)
    neardedup.compact_near_dedup(spark, base_dir)
    neardedup.vacuum_near_dedup(spark, base_dir)
    sigs_pre, _ = neardedup.read_state(spark, base_dir)
    rows_pre = sorted(map(tuple, sigs_pre.collect()))

    # a NEW run (fresh checkpoint, new source) carrying a genuinely
    # novel doc: its batch 0 sorts below the compaction token and
    # admits rows -> must refuse, not silently doom them
    src2 = str(tmp_path / "src2")
    _mk_docs(spark, [
        (50, "entirely new prose describing mountain weather "
             "patterns and the slow churn of glacial ice fields"),
    ]).coalesce(1).write.mode("overwrite").parquet(src2)
    stream2 = (spark.readStream.schema(b1.schema)
               .option("maxFilesPerTrigger", "1").parquet(src2))
    q = neardedup.foreach_batch_near_dedup(
        stream2, base_dir, str(tmp_path / "ckpt2"))
    with pytest.raises(Exception, match="compacted"):
        q.awaitTermination(180)
        raise AssertionError("fresh-checkpoint collision not refused")

    # nothing committed: state unchanged, no stray markers below the
    # compaction token
    sigs_post, _ = neardedup.read_state(spark, base_dir)
    assert sorted(map(tuple, sigs_post.collect())) == rows_pre
    import glob

    assert sorted(glob.glob(f"{base_dir}/markers/*.marker")) == [
        f"{base_dir}/markers/batch-1c1.marker"]


def test_marker_vacuumed_replay_is_empty_noop(spark, tmp_path):
    """The flip side of the collision guard: a replay of data already
    IN the compacted state (same docs, fresh checkpoint) admits
    nothing by idempotence, so it passes the guard, commits empty
    versions below the compaction token, and the state is unchanged —
    the exact contract vacuum_near_dedup documents."""
    from oracle_cassandra_migrator_spark.streaming import neardedup

    src = str(tmp_path / "src")
    b1 = _mk_docs(spark, [(1, BASE)])
    b2 = _mk_docs(spark, [(2, NOVEL)])
    b1.coalesce(1).write.mode("overwrite").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    base_dir = str(tmp_path / "state")
    stream = (spark.readStream.schema(b1.schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    neardedup.foreach_batch_near_dedup(
        stream, base_dir, str(tmp_path / "ckpt")).awaitTermination(180)
    neardedup.compact_near_dedup(spark, base_dir)
    neardedup.vacuum_near_dedup(spark, base_dir)
    sigs_pre, _ = neardedup.read_state(spark, base_dir)
    rows_pre = sorted(map(tuple, sigs_pre.collect()))

    # fresh checkpoint, SAME source: batches 0..1 re-deliver docs that
    # are all in the compacted state already
    stream2 = (spark.readStream.schema(b1.schema)
               .option("maxFilesPerTrigger", "1").parquet(src))
    neardedup.foreach_batch_near_dedup(
        stream2, base_dir, str(tmp_path / "ckpt2")).awaitTermination(180)
    sigs_post, _ = neardedup.read_state(spark, base_dir)
    assert sorted(map(tuple, sigs_post.collect())) == rows_pre


def test_true_replay_skipped_even_when_band_cap_crossed(spark, tmp_path):
    """Review r10 (the crash-loop hole in the r10 marker guard): the
    'a true replay admits nothing' heuristic is band-cap-DEPENDENT —
    if the band group that originally rejected doc X crosses
    max_band_size before the replay, the capped probe goes blind, the
    re-execution admits X, and the guard raises on a LEGITIMATE
    crash-recovery replay, wedging the stream permanently. The content
    fingerprint decides exactly: same id + same content = skip,
    regardless of what the state's band groups look like now."""
    from oracle_cassandra_migrator_spark.reliability.state import (
        LocalFSStateStore)
    from oracle_cassandra_migrator_spark.streaming import (
        fingerprint, neardedup)

    base_dir = str(tmp_path / "state")
    b0 = _mk_docs(spark, [(1, BASE)])
    b1 = _mk_docs(spark, [(5, BASE.replace("afternoon", "evening"))])

    # Fabricate the committed state the failure needs: doc 1's sig
    # plus three clones under other ids, so every band group holding
    # doc 1's keys has 4 rows > cap 2 — the capped probe cannot see
    # doc 1 any more, and a re-execution of batch 1 would ADMIT doc 5
    # (its original rejector is cap-invisible).
    sig1, _ = neardedup.admit_batch(b0, None, None, "text", "doc_id")
    sig1 = sig1.cache()
    clones = sig1
    for fake_id in (100, 101, 102):
        clones = clones.unionByName(
            sig1.withColumn("doc_id", F.lit(fake_id).cast("bigint")))
    clones.write.mode("overwrite").parquet(f"{base_dir}/sigs-v0")
    neardedup.band_rows(
        spark.read.parquet(f"{base_dir}/sigs-v0"), "doc_id"
    ).write.mode("overwrite").parquet(f"{base_dir}/bands-v0")
    # batch 1 committed EMPTY (doc 5 was rejected originally)
    empty = spark.read.parquet(f"{base_dir}/sigs-v0").limit(0)
    empty.write.mode("overwrite").parquet(f"{base_dir}/sigs-v1")
    neardedup.band_rows(empty, "doc_id").write.mode(
        "overwrite").parquet(f"{base_dir}/bands-v1")
    store = LocalFSStateStore()
    for bid, bdf in ((0, b0), (1, b1)):
        store.put_marker(f"{base_dir}/markers/batch-{bid}.marker")
        store.put_marker(fingerprint.fp_key(
            base_dir, bid,
            neardedup._batch_fingerprint(bdf, "text", "doc_id")))

    # sanity: the heuristic really would misfire here — re-executing
    # batch 1 against this state admits doc 5 under cap=2
    sigs0, bands0 = neardedup.read_state(spark, base_dir)
    readmitted, _ = neardedup.admit_batch(
        b1, sigs0, bands0, "text", "doc_id", max_band_size=2)
    assert {r["doc_id"] for r in readmitted.collect()} == {5}

    # the replay (fresh checkpoint, same content, committed markers)
    # must be a clean no-op — not a RuntimeError, not a state write
    src = str(tmp_path / "src")
    b0.coalesce(1).write.mode("overwrite").parquet(src)
    b1.coalesce(1).write.mode("append").parquet(src)
    rows_pre = sorted(map(tuple, sigs0.collect()))
    stream = (spark.readStream.schema(b0.schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = neardedup.foreach_batch_near_dedup(
        stream, base_dir, str(tmp_path / "ckpt"), max_band_size=2)
    q.awaitTermination(180)
    assert q.exception() is None, q.exception()
    sigs_post, _ = neardedup.read_state(spark, base_dir)
    assert sorted(map(tuple, sigs_post.collect())) == rows_pre


def test_legacy_marker_without_fingerprint_uses_heuristic(
        spark, tmp_path):
    """Markers from a pre-fingerprint state (or a crash in the
    marker->fingerprint window) fall back to the re-execution
    heuristic: a true replay admits nothing and is skipped.
    Deliberately NO ledger heal (review r10): "admits nothing" does
    not prove content equality — a colliding batch whose docs all
    estimate as near-dups of the state also admits nothing, so
    recording the current batch's fingerprint could poison the ledger
    and wedge the original checkpoint's later true replay."""
    import glob

    from oracle_cassandra_migrator_spark.streaming import neardedup

    src = str(tmp_path / "src")
    _mk_docs(spark, [(1, BASE)]).coalesce(1).write.mode(
        "overwrite").parquet(src)
    base_dir = str(tmp_path / "state")
    stream = (spark.readStream.schema("doc_id BIGINT, text STRING")
              .option("maxFilesPerTrigger", "1").parquet(src))
    neardedup.foreach_batch_near_dedup(
        stream, base_dir, str(tmp_path / "ckpt")).awaitTermination(180)
    fps = glob.glob(f"{base_dir}/fingerprints/fp-*.marker")
    assert len(fps) == 1
    for p in fps:
        import os

        os.remove(p)
    sigs_pre, _ = neardedup.read_state(spark, base_dir)
    rows_pre = sorted(map(tuple, sigs_pre.collect()))

    stream2 = (spark.readStream.schema("doc_id BIGINT, text STRING")
               .option("maxFilesPerTrigger", "1").parquet(src))
    q = neardedup.foreach_batch_near_dedup(
        stream2, base_dir, str(tmp_path / "ckpt2"))
    q.awaitTermination(180)
    assert q.exception() is None, q.exception()
    sigs_post, _ = neardedup.read_state(spark, base_dir)
    assert sorted(map(tuple, sigs_post.collect())) == rows_pre
    # no heal: the ledger stays empty for this id
    assert glob.glob(f"{base_dir}/fingerprints/fp-*.marker") == []


def test_vacuum_compacts_fingerprint_ledger(spark, tmp_path):
    """The fingerprint ledger must not re-grow the file count the
    compaction exists to bound: vacuum merges singles below the
    compaction token (plus prior manifests) into one JSON manifest,
    and a vacuumed-marker replay still resolves through it."""
    import glob

    from oracle_cassandra_migrator_spark.streaming import neardedup

    src = str(tmp_path / "src")
    b1 = _mk_docs(spark, [(1, BASE)])
    b2 = _mk_docs(spark, [(2, NOVEL)])
    b1.coalesce(1).write.mode("overwrite").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    base_dir = str(tmp_path / "state")
    stream = (spark.readStream.schema(b1.schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    neardedup.foreach_batch_near_dedup(
        stream, base_dir, str(tmp_path / "ckpt")).awaitTermination(180)
    assert len(glob.glob(f"{base_dir}/fingerprints/fp-*.marker")) == 2

    neardedup.compact_near_dedup(spark, base_dir)
    neardedup.vacuum_near_dedup(spark, base_dir)
    # singles below the compaction merged away, one manifest remains
    assert glob.glob(f"{base_dir}/fingerprints/fp-*.marker") == []
    manifests = glob.glob(f"{base_dir}/fingerprints/manifest-*.json")
    assert len(manifests) == 1
    rows_pre = sorted(map(tuple, neardedup.read_state(
        spark, base_dir)[0].collect()))

    # vacuumed-marker replay resolves through the manifest: skip, no
    # write, no raise (fresh checkpoint, same source)
    stream2 = (spark.readStream.schema(b1.schema)
               .option("maxFilesPerTrigger", "1").parquet(src))
    q = neardedup.foreach_batch_near_dedup(
        stream2, base_dir, str(tmp_path / "ckpt2"))
    q.awaitTermination(180)
    assert q.exception() is None, q.exception()
    assert sorted(map(tuple, neardedup.read_state(
        spark, base_dir)[0].collect())) == rows_pre
    # the skip wrote nothing — no version dirs below the compaction
    assert sorted(glob.glob(f"{base_dir}/sigs-v*")) == sorted(
        glob.glob(f"{base_dir}/sigs-v*c*"))


def test_fresh_checkpoint_under_committed_marker_refused(spark, tmp_path):
    """Self-review r10 (the marker-window twin of the compaction
    guard): a fresh-checkpoint run whose batch id collides with a
    NOT-yet-vacuumed committed marker used to be silently skipped as a
    replay — swallowing its NEW admissions. The marker hit now
    re-executes admission (a true replay admits nothing) and refuses
    loudly when docs survive."""
    from oracle_cassandra_migrator_spark.streaming import neardedup

    src = str(tmp_path / "src")
    _mk_docs(spark, [(1, BASE)]).coalesce(1).write.mode(
        "overwrite").parquet(src)
    base_dir = str(tmp_path / "state")
    stream = (spark.readStream.schema("doc_id BIGINT, text STRING")
              .option("maxFilesPerTrigger", "1").parquet(src))
    neardedup.foreach_batch_near_dedup(
        stream, base_dir, str(tmp_path / "ckpt")).awaitTermination(180)
    sigs_pre, _ = neardedup.read_state(spark, base_dir)
    rows_pre = sorted(map(tuple, sigs_pre.collect()))

    # no compaction, no vacuum: batch-0 marker still committed. A new
    # run over a DIFFERENT source restarts at batch 0 with novel docs.
    src2 = str(tmp_path / "src2")
    _mk_docs(spark, [(77, NOVEL)]).coalesce(1).write.mode(
        "overwrite").parquet(src2)
    stream2 = (spark.readStream.schema("doc_id BIGINT, text STRING")
               .option("maxFilesPerTrigger", "1").parquet(src2))
    q = neardedup.foreach_batch_near_dedup(
        stream2, base_dir, str(tmp_path / "ckpt2"))
    with pytest.raises(Exception, match="committed marker"):
        q.awaitTermination(180)
        raise AssertionError("marker-id collision not refused")

    sigs_post, _ = neardedup.read_state(spark, base_dir)
    assert sorted(map(tuple, sigs_post.collect())) == rows_pre


def test_below_compaction_collision_refused_even_when_admission_empty(
        spark, tmp_path):
    """Review r10 (third pass): the below-compaction path must consult
    the LEDGER before the admits-nothing heuristic — a colliding
    fresh-checkpoint batch whose docs all estimate as near-dups of the
    compacted state admits nothing, and the heuristic alone would
    silently commit an invisible empty version at the vacuumed id and
    poison the ledger with the colliding fingerprint."""
    import glob

    from oracle_cassandra_migrator_spark.streaming import neardedup

    src = str(tmp_path / "src")
    _mk_docs(spark, [(1, BASE)]).coalesce(1).write.mode(
        "overwrite").parquet(src)
    base_dir = str(tmp_path / "state")
    stream = (spark.readStream.schema("doc_id BIGINT, text STRING")
              .option("maxFilesPerTrigger", "1").parquet(src))
    neardedup.foreach_batch_near_dedup(
        stream, base_dir, str(tmp_path / "ckpt")).awaitTermination(180)
    neardedup.compact_near_dedup(spark, base_dir)
    neardedup.vacuum_near_dedup(spark, base_dir)
    markers_pre = sorted(glob.glob(f"{base_dir}/markers/*.marker"))

    # fresh checkpoint: DIFFERENT doc (new id, near-dup text) reuses
    # vacuumed batch id 0 — admission would be EMPTY vs the state
    src2 = str(tmp_path / "src2")
    _mk_docs(spark, [(2, BASE.replace("afternoon", "evening"))]) \
        .coalesce(1).write.mode("overwrite").parquet(src2)
    stream2 = (spark.readStream.schema("doc_id BIGINT, text STRING")
               .option("maxFilesPerTrigger", "1").parquet(src2))
    q = neardedup.foreach_batch_near_dedup(
        stream2, base_dir, str(tmp_path / "ckpt2"))
    with pytest.raises(Exception, match="compacted"):
        q.awaitTermination(180)
        raise AssertionError("below-compaction collision not refused")
    # nothing committed, nothing poisoned: markers and the ledger's
    # manifest are untouched, no stray singles for id 0
    assert sorted(glob.glob(f"{base_dir}/markers/*.marker")) \
        == markers_pre
    assert glob.glob(f"{base_dir}/fingerprints/fp-*.marker") == []
