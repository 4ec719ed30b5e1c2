"""The exactly-once commit protocol of the VERSIONED foreachBatch
sinks (``upsert``, ``rollup``, both ``partitioned`` maintainers,
``annmaintain``, ``neardedup``) and the per-batch CONTENT-FINGERPRINT
ledger it rests on. Each sink supplies only its version write
(``versioned_applier``); this module owns everything around it, so a
protocol fix lands once.

Version protocol (all through the StateStore, any Hadoop scheme): a
batch writes its version under ``base_dir``, then commits it with
``markers/batch-<token>.marker``, then records its fingerprint.
Tokens are stream batch ids (``"7"``) or compaction tokens
(``"7c1"``, sorting after batch 7 and before batch 8 — compaction
never squats on a future micro-batch's id). Readers resolve committed
markers only, so a version whose marker is missing is an invisible
orphan and a replay deterministically overwrites it. Per batch:

- the batch is persisted ACROSS the fingerprint aggregate and the
  version write: the fp job materializes the cache, so the write reads
  the cached batch instead of re-running the source scan + upstream
  transforms (pinned by tests/test_fingerprint_scan_once.py);
- committed-marker hit: replay vs fresh-checkpoint collision is
  decided by CONTENT (``decide_replay``), never by a silent skip — a
  skipped colliding run loses its batch forever;
- a batch id below the sink's hidden bound (by default the latest
  committed token) would write a version INVISIBLE to readers and
  reclaimed by the next vacuum: a vacuumed-marker true replay is
  skipped exactly, new content there is refused;
- a batch with no current-version ledger entry ("legacy": pre-ledger
  state, or a crash in the marker->fingerprint window) keeps the
  sink's pre-ledger policy (``on_legacy``).

The one residual hole, shared by every sink: a crash between marker
and fingerprint leaves that batch id marker-committed but ledger-less,
so a later fresh-checkpoint collision at that id takes the legacy path
(by default a silent skip, the pre-ledger behavior). Deliberate:
healing the ledger from a replay's own content could record a
COLLIDING run's fingerprint and wedge the original checkpoint's true
replay (see ``neardedup``'s legacy policy).

Ledger layout under ``<base_dir>/fingerprints/``:

- ``fp-<batch_id>-<fp>.marker`` — one zero-byte single per committed
  batch, written AFTER the batch's commit marker so its presence
  PROVES the batch (data + marker) fully committed. Lookup is a
  direct O(1) ``exists`` — never a listing in the per-batch hot path.
- ``manifest-<token>.json`` — vacuum-time merge of singles (plus any
  prior manifests) into one JSON object ``{batch_id: fp}``, so the
  ledger's file count is bounded by the MAINTENANCE cadence, not the
  batch cadence. Manifests are read only on replay/collision paths.
  A truncated manifest (crash mid-write) is skipped by readers: its
  entries' singles are deleted only after a successful write, so they
  are still present and the next vacuum re-merges them.

The fingerprint is order- and partitioning-independent and
multiset-exact: two independent xxhash64 streams over the chosen
columns, summed in exact DECIMAL (XOR would cancel duplicated rows)
and folded mod 2^64, plus the row count. Computing it is one map-side
aggregate job per micro-batch — a full execution of the batch plan,
so it also satisfies the contract behind
``sinks.consume_without_writing``: stateful operators upstream of
foreachBatch still update their state and Spark 4.1's state-commit
validation still sees every batch consumed, with no separate noop
pass.

Scope — deliberately NOT applied to the pass-through sinks
(``sinks.foreach_batch_sink`` / ``enrich.py``): those commonly sit
DOWNSTREAM of Spark's own stateful operators (windowed aggregations),
where the frame delivered for a given batch id is a function of
watermark/state history — a fresh-checkpoint recovery run (the
documented, test-pinned pattern in
``test_replayed_batches_still_feed_state``) legitimately re-delivers
DIFFERENT content under a reused id, so fingerprint equality would
misread recovery as collision. The versioned sinks this protocol
guards ARE the stateful operator: their foreachBatch receives the raw
source/CDC batch, which Spark re-delivers byte-identically on every
true replay — content identity is exactly the right discriminator.
"""

from __future__ import annotations

import json
import posixpath
import re
from typing import Any, Callable, Iterable

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import StreamingQuery

from oracle_cassandra_migrator_spark.reliability.state import (
    StateStore,
    default_store,
)

# Fingerprint ALGORITHM version, embedded as the fp string's first
# segment. If the algorithm ever changes again, bump this: entries
# recorded under a DIFFERENT version are treated as "legacy" (fall
# back to the sink's pre-ledger behavior), never as a collision — an
# unversioned change would make every committed entry mismatch its own
# true replay after an upgrade and wedge resumed streams with a false
# collision error (review r10).
FP_VERSION = "v1"


def batch_fingerprint(batch_df: DataFrame,
                      cols: Iterable[str] | None = None) -> str:
    """``"{count}-{sum1:016x}-{sum2:016x}"`` over ``cols`` (default:
    every column, sorted by name for schema-order independence).
    Sinks that key their semantics on a column subset (the near-dedup
    gate reads only id + text; the rollup only its op/keys/images)
    pass that subset, so payload columns the sink ignores cannot flip
    a true replay into a collision.

    Each column is PRE-HASHED separately before the row hash: Spark's
    variadic ``xxhash64`` SKIPS null arguments entirely, so hashing
    raw columns would collide rows whose values swap between
    same-typed columns via NULLs — (new=10, old=NULL) vs (new=NULL,
    old=10) produce the identical non-null stream, and a semantically
    opposite batch would be misread as a true replay and silently
    dropped (review r10, confirmed empirically). A per-column
    ``xxhash64`` maps NULL to the never-null seed constant, anchoring
    every column position in the outer hash. Map/variant columns
    (which ``xxhash64`` refuses) go through ``to_json`` first —
    deterministic across replays, which re-deliver identical bytes."""
    cols = sorted(batch_df.columns) if cols is None else list(cols)
    dtypes = dict(batch_df.dtypes)
    per_col = []
    for c in cols:
        col = F.col(c)
        dt = dtypes.get(c, "")
        # xxhash64 refuses MAP/VARIANT at ANY nesting depth
        # (struct<..map<..>>, array<map<..>>), so the substring check
        # is deliberate, not just a top-level type test
        if "map<" in dt or "variant" in dt:
            col = F.to_json(col)
        per_col.append(F.xxhash64(col))
    h1 = F.xxhash64(*per_col)
    h2 = F.xxhash64(F.lit("fp2"), *reversed(per_col))
    row = (batch_df
           .select(h1.alias("h1"), h2.alias("h2"))
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.col("h1").cast("decimal(38,0)")).alias("s1"),
                F.sum(F.col("h2").cast("decimal(38,0)")).alias("s2"))
           .collect()[0])
    n = int(row["n"])
    if n > 0 and (row["s1"] is None or row["s2"] is None):
        # a decimal(38,0) SUM over non-zero rows can only be NULL via
        # non-ANSI overflow (~1e19 rows); coercing it to 0 would mint a
        # degenerate fingerprint that misreads later content — fail
        # loudly instead (ADVICE r10)
        raise RuntimeError(
            "batch_fingerprint: hash-sum overflowed to NULL over "
            f"{n} rows — cannot mint a sound fingerprint")
    s1 = int(row["s1"] or 0) % (1 << 64)
    s2 = int(row["s2"] or 0) % (1 << 64)
    return f"{FP_VERSION}-{n}-{s1:016x}-{s2:016x}"


_MARKER_RE = re.compile(r"batch-(\d+(?:c\d+)?)\.marker$")


def token_key(tok: str) -> tuple[int, int]:
    """Sort key: stream batch "7" = (7, 0); compaction "7c2" = (7, 2)
    — after its base batch, before the next one."""
    base, _, suf = tok.partition("c")
    return (int(base), int(suf) if suf else 0)


def committed_tokens(store: StateStore, marker_dir: str) -> list[str]:
    """The committed version tokens under ``marker_dir``, in commit
    order — the one parser of ``batch-<token>.marker`` names."""
    out = []
    for key in store.list(marker_dir, suffix=".marker"):
        m = _MARKER_RE.search(key)
        if m:
            out.append(m.group(1))
    return sorted(out, key=token_key)


def committed_ids(store: StateStore, base_dir: str) -> list[int]:
    """The committed batch ids of a sink that never compacts."""
    return [int(t) for t in committed_tokens(
        store, posixpath.join(base_dir, "markers"))]


def marker_key(base_dir: str, token) -> str:
    return posixpath.join(base_dir, "markers", f"batch-{token}.marker")


# Version sidecars and manifests are tiny JSON objects, and version
# data is deleted as whole directories: both go through the Hadoop
# FileSystem API so any scheme (file:/hdfs:/s3a:) works.
def _hadoop_fs(spark, path: str):
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(conf), jpath


def write_text(spark, path: str, text: str) -> None:
    fs, jpath = _hadoop_fs(spark, path)
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def read_text(spark, path: str) -> str:
    fs, jpath = _hadoop_fs(spark, path)
    stream = fs.open(jpath)
    try:
        jvm = spark.sparkContext._jvm
        return jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8")
    finally:
        stream.close()


def delete_tree(spark, path: str) -> None:
    """Recursively delete ``path`` (a file or a directory) if present."""
    fs, jpath = _hadoop_fs(spark, path)
    if fs.exists(jpath):
        fs.delete(jpath, True)


def fp_dir(base_dir: str) -> str:
    return posixpath.join(base_dir, "fingerprints")


def fp_key(base_dir: str, batch_id, fp: str) -> str:
    return posixpath.join(fp_dir(base_dir), f"fp-{batch_id}-{fp}.marker")


def _manifests(spark, store: StateStore, base_dir: str) -> dict:
    """Union of all fingerprint manifests ({batch_id str: fp})."""
    out: dict = {}
    for key in store.list(fp_dir(base_dir), suffix=".json"):
        text = read_text(spark, key)  # IO errors PROPAGATE: silently
        # treating a transient read failure as "no ledger" would
        # degrade a detectable collision into the silent swallow the
        # ledger exists to refuse — let the batch fail and retry
        try:
            out.update(json.loads(text))
        except ValueError:
            # truncated manifest (crash mid-write): its entries'
            # singles were deleted only AFTER a successful write, so
            # they are still present and the next vacuum re-merges
            # them — skipping is self-healing, not lossy
            continue
    return out


def decide_replay(spark, store: StateStore, base_dir: str, batch_id,
                  fp: str, collision_msg: str) -> str:
    """The sinks' shared three-way replay decision at a committed
    marker or a stale (vacuumed) batch id: ``"skip"`` — the exact
    content is in the ledger, a true replay; raises RuntimeError with
    ``collision_msg`` — a fingerprint exists for this id but differs,
    a fresh-checkpoint run reusing the id; ``"legacy"`` — no
    current-version ledger entry at all (pre-ledger state, or one
    recorded under an older ``FP_VERSION``), the caller preserves its
    pre-ledger behavior. One body so the protocol cannot drift
    between the sinks (review r10) — this is deliberately the ONLY
    reader of the ledger (ADVICE r10: the committed/any-entry helper
    pair it once shadowed duplicated these rules and is gone). Single
    IO pass: one ``exists``, then at most one singles listing and one
    manifest read."""
    if store.exists(fp_key(base_dir, batch_id, fp)):
        return "skip"
    prefix = f"fp-{batch_id}-{FP_VERSION}-"
    for key in store.list(fp_dir(base_dir), suffix=".marker"):
        if posixpath.basename(key).startswith(prefix):
            # a current-version single for this id exists but the
            # exact (id, fp) key does not: different content
            raise RuntimeError(collision_msg)
    entry = _manifests(spark, store, base_dir).get(str(batch_id))
    if entry == fp:
        return "skip"
    if entry is not None and entry.startswith(FP_VERSION + "-"):
        raise RuntimeError(collision_msg)
    return "legacy"


def compact_fingerprints(spark, store: StateStore, base_dir: str,
                         is_below: Callable[[str], bool],
                         token: str) -> None:
    """Vacuum-time ledger compaction: merge singles whose batch id
    satisfies ``is_below`` (the sink's retention boundary, e.g. below
    the latest compaction token) plus all prior manifests into
    ``manifest-<token>.json``, then delete the merged files. Write
    FIRST, delete after: a crash leaves duplicates, never losses."""
    merged = _manifests(spark, store, base_dir)
    old_manifests = store.list(fp_dir(base_dir), suffix=".json")
    merged_singles = []
    for key in store.list(fp_dir(base_dir), suffix=".marker"):
        name = posixpath.basename(key)
        # fp-<id>-<version>-<count>-<hex>-<hex>.marker: the fp string
        # carries FP_VERSION as its first segment, so split('-', 2)
        # yields it intact as the manifest value
        _, bid, fp = name[:-len(".marker")].split("-", 2)
        if is_below(bid):
            merged[bid] = fp
            merged_singles.append(key)
    if not merged:
        return
    new_name = f"manifest-{token}.json"
    write_text(spark, posixpath.join(fp_dir(base_dir), new_name),
               json.dumps(merged))
    for key in merged_singles:
        store.delete(key)
    for key in old_manifests:
        # compare by basename: list() may return scheme-qualified URIs
        # while the new manifest was written under a plain path
        if posixpath.basename(key) != new_name:
            store.delete(key)


# --- the per-batch protocol -------------------------------------------

def _collision_message(base_dir: str, token: str, where: str) -> str:
    return (
        f"batch {token} at {base_dir!r} {where}, but carries DIFFERENT "
        "content than originally committed at this id (its content "
        "fingerprint does not match the committed one) — a "
        "fresh-checkpoint run is reusing a committed batch id over the "
        "same base_dir, and taking it for a replay would silently lose "
        "its data. Resume the original checkpoint, use a new base_dir, "
        "or clear the state first.")


def _latest_token(committed: list[str]) -> str | None:
    return committed[-1] if committed else None


def _keep_pre_ledger(batch_df: DataFrame, token: str,
                    at_marker: bool) -> bool:
    """The default legacy policy: a legacy marker is a skip, a legacy
    hidden id is rewritten (deterministically, and invisibly)."""
    return not at_marker


def commit(store: StateStore, base_dir: str, token: str,
           fp: str | None) -> None:
    """Commit a written version: marker FIRST, then the fingerprint,
    whose presence proves the marker (and the data) committed — the
    invariant a vacuumed-marker replay skip relies on. ``fp=None``
    commits without a ledger entry."""
    store.put_marker(marker_key(base_dir, token))
    if fp is not None:
        store.put_marker(fp_key(base_dir, token, fp))


def versioned_applier(
    base_dir: str,
    state: StateStore | None,
    write: Callable[[DataFrame, str, list[str]], bool],
    fingerprint_of: Callable[[DataFrame], str] = batch_fingerprint,
    hidden_below: Callable[[list[str]], str | None] = _latest_token,
    on_legacy: Callable[[DataFrame, str, bool], bool] = _keep_pre_ledger,
) -> Callable[[DataFrame, int], None]:
    """The ``(batch_df, batch_id)`` foreachBatch function of a
    versioned sink (the protocol in the module docstring).

    - ``write(batch_df, token, committed)`` writes the batch's version
      from the persisted batch and the committed tokens (commit
      order); it returns False when it wrote nothing to commit.
    - ``fingerprint_of`` takes the content identity, over the columns
      the sink reads where it ignores the rest, so a payload column
      cannot flip a true replay into a collision.
    - ``hidden_below(committed)`` is the token below which a new
      version would be invisible to readers.
    - ``on_legacy(batch_df, token, at_marker)`` runs when the ledger
      has no entry for a batch at a committed marker or below the
      hidden bound; it may raise to refuse the batch, and returns True
      to write and commit it (ignored at a marker, which is never
      rewritten). The ledger always decides first, so a sink's
      fallback heuristic never sees a batch the ledger can judge — a
      heuristic alone could commit a colliding batch and poison the
      ledger with its fingerprint."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            _apply_once(batch_df, str(batch_id))
        finally:
            batch_df.unpersist()

    def _apply_once(batch_df: DataFrame, token: str) -> None:
        spark = batch_df.sparkSession
        store = state or default_store(spark, base_dir)
        # one map-side aggregate job; also the required batch
        # consumption on every skip path below
        fp = fingerprint_of(batch_df)
        if store.exists(marker_key(base_dir, token)):
            if decide_replay(
                    spark, store, base_dir, token, fp,
                    _collision_message(base_dir, token,
                                       "carries a committed marker")
            ) == "legacy":
                on_legacy(batch_df, token, True)
            return
        committed = committed_tokens(
            store, posixpath.join(base_dir, "markers"))
        bound = hidden_below(committed)
        if bound is not None and token_key(token) < token_key(bound):
            kind = "compacted" if "c" in bound else "committed"
            decision = decide_replay(
                spark, store, base_dir, token, fp,
                _collision_message(
                    base_dir, token,
                    f"sorts below the latest {kind} token {bound!r}, "
                    "where its version would be invisible to readers "
                    "and reclaimed by the next vacuum"))
            if decision == "skip" or not on_legacy(batch_df, token, False):
                return
        if write(batch_df, token, committed):
            commit(store, base_dir, token, fp)

    return apply


def start(stream: DataFrame, apply: Callable[[DataFrame, int], None],
          checkpoint_dir: str,
          trigger: dict[str, Any] | None = None) -> StreamingQuery:
    """Start ``stream`` through ``apply`` (availableNow by default)."""
    writer = (stream.writeStream.foreachBatch(apply)
              .option("checkpointLocation", checkpoint_dir))
    writer = writer.trigger(**(trigger or {"availableNow": True}))
    return writer.start()
