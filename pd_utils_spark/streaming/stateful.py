"""Streaming operators beyond the built-in window aggregations: keyed
dedup and sessionization through the engine's state store, and
``foreachBatch`` gates whose cross-batch state lives in versioned
parquet directories.

State-store operators (``applyInPandasWithState``, keyed
``dropDuplicates``) keep per-key state O(1) — scalars and counters,
never row buffers — and take a timeout or watermark so abandoned keys
are evicted.

**Versioned state.** Every ``foreachBatch`` gate keeps its state by
one protocol, implemented once by the private helpers below
(``_versions`` through ``_compact``); the gate docstrings refer here.

- *Layout.* A state dir holds one directory per version: ``b=<n>``,
  written by micro-batch ``n``, and ``c=<n>``, a compacted generation
  that folds every delta up to ``n``. A version counts only once its
  ``_SUCCESS`` marker exists: the directory appears before any file
  commits, so a crash mid-write leaves nothing a reader lists. The
  constant-state gates (Bloom filter, HLL, bottom-k, frequent items)
  keep one frame per version. The two artifact gates keep one
  subdirectory per artifact, each versioned the same way —
  containment ``sets``, ``docs``, ``dfreq``, ``index``; MinHash
  ``shingles``, ``docs``, ``keys`` — and ``index`` / ``keys``, the
  enumerating artifact, commits last: readers list versions from it,
  so a version listed there implies its siblings committed.
- *Read strictly below.* Batch ``n`` reads the newest committed
  version below ``n`` (constant-state gates), or the newest committed
  ``c=`` below ``n`` plus every newer committed ``b=`` below ``n``
  (artifact gates). A batch replayed after a crash therefore never
  reads the version it is about to overwrite: it rebuilds ``b=<n>``
  from the same predecessor and overwrites it. Constant-state reads
  pass the writer's schema, so they run no schema-inference job.
  :func:`read_latest_state` reads the newest committed version with no
  bound.
- *Commit.* A version is written with mode ``overwrite`` and read back
  (``_commit_version``), so a second consumer reads the committed
  files instead of recomputing the frame. The artifact gates write the
  other artifacts concurrently, then the enumerating one, and append
  their output only after all state committed: output is
  at-least-once (a replay re-appends; finish downstream with
  ``exact_dedup`` on id) while state is exactly-once.
- *Prune.* After its commit a constant-state gate deletes, best
  effort, every version below the one it read, so the previous
  version survives a crash mid-write of the current one.
- *Compaction* (:func:`compact_containment_state`,
  :func:`compact_minhash_state`; run with the stream stopped) folds
  every committed delta except the newest into ``c=<top>``: the
  newest delta's batch may replay, and must still resolve complete
  state strictly below its own id. The generation is written to new
  paths, the enumerating artifact last; the folded deltas and the
  previous generation are then pruned, best effort. The fold
  re-applies the flood cap the builders stamped into the artifacts
  (the minimum across pieces; see :func:`_stamped_max_bucket_pieces`).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence
from typing import NamedTuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from pd_utils_spark.utils import release_registered, to_list


#: Per-task input-byte grain for spreading an under-partitioned
#: micro-batch (r12). The gates' batch-side work is CPU-heavy text
#: shingling measured at ~4 µs per input byte single-core (an 8.7 s
#: single-task stage over a ~2 MB batch, profiled at sf0.1), so the
#: grain sits far below the scan-split default (128 MB): 64 KiB of
#: batch input per task ≈ 1 s of shingle work — big enough that
#: per-task scheduling overhead stays negligible, small enough that a
#: single-file micro-batch fans out. The driver's r11 scaling run
#: showed the same batches ~2x FASTER at 8-way than at the blanket
#: 32-way spread, which this grain reproduces (~600 KB batch -> ~10
#: tasks).
_SPREAD_TARGET_BYTES = 64 * 1024

#: Schema of a :func:`streaming_bloom_dedup` filter version.
_BLOOM_DDL = "bloom array<bigint>, m_bits int, k int"


def _spread_batch(batch_df: DataFrame) -> DataFrame:
    """Fan an under-partitioned micro-batch across the executor cores
    before CPU-heavy gate work (r11, guide §2.5 "input skew"): a file-
    source micro-batch arrives with one partition per file split, so a
    single-file trigger under ``maxPartitionBytes`` runs the whole
    shingle/minhash/explode pipeline of the batch on ONE core —
    profiled at sf0.1 as three concurrent 14 s single-task stages
    inside the containment gate.

    The spread is SIZE-AWARE (r12 — the r11 form repartitioned every
    under-partitioned batch straight to ``defaultParallelism``, and the
    driver's bench showed both big gates anti-scaling with cores: a
    KB-scale batch paid a 32-way exchange plus 32-task stages per
    downstream stage, pure scheduling latency). The target partition
    count is ``ceil(estimated input bytes / _SPREAD_TARGET_BYTES)``
    capped at ``defaultParallelism`` — spread proportional to the
    input, not blindly to the core count. The estimate comes from the
    optimized logical plan's stats (file sizes for a file-source
    micro-batch — no job, no collect). When the estimate is
    unavailable or absurd (relations without stats default to
    Long.MaxValue) the cap keeps the old conservative behavior. At scale this stays a structural no-op: batches bigger
    than ``_SPREAD_TARGET_BYTES x defaultParallelism`` already arrive
    in many splits and hit the ``n >= want`` early exit. Round-robin
    repartition is retry-safe (Spark sorts before round-robin by
    default) and every gate result is partitioning-independent by
    construction."""
    import math

    sc = batch_df.sparkSession.sparkContext
    try:
        n = batch_df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover — defensive; keep the batch
        return batch_df
    p = sc.defaultParallelism
    if n >= p:
        return batch_df
    try:
        est = int(
            str(
                batch_df._jdf.queryExecution()
                .optimizedPlan()
                .stats()
                .sizeInBytes()
            )
        )
        want = min(p, max(1, math.ceil(est / _SPREAD_TARGET_BYTES)))
    except Exception:  # pragma: no cover — stats unavailable: be
        want = p  # conservative (the r11 behavior)
    if n < want:
        return batch_df.repartition(want)
    return batch_df


def _fs(spark, path: str):
    """``(FileSystem, Path class)`` for ``path``: the Hadoop file
    system that holds it, and the JVM ``Path`` constructor."""
    Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    return Path(path).getFileSystem(conf), Path


def _versions(
    spark, state_dir: str, prefix: str = "b=", committed_only: bool = True
) -> list[int]:
    """Sorted version ids under ``state_dir`` in the ``prefix``
    namespace (``b=`` deltas or ``c=`` generations). ``committed_only``
    keeps only versions whose ``_SUCCESS`` marker exists. Listing
    explicitly (not try/except around a read) makes a transient
    storage error fail and retry the batch instead of passing for
    "no state", which would admit duplicates."""
    fs, Path = _fs(spark, state_dir)
    if not fs.exists(Path(state_dir)):
        return []
    out = []
    for st in fs.listStatus(Path(state_dir)):
        name = st.getPath().getName()
        v = name[len(prefix):]
        if name.startswith(prefix) and v.isdigit() and (
            not committed_only
            or fs.exists(Path(f"{state_dir}/{name}/_SUCCESS"))
        ):
            out.append(int(v))
    return sorted(out)


def _newest_version(
    spark, state_dir: str, below: int | None = None, prefix: str = "b="
) -> int | None:
    """Newest committed version strictly below ``below`` (any, when
    ``None``), or ``None`` when there is none."""
    vs = [
        v
        for v in _versions(spark, state_dir, prefix)
        if below is None or v < below
    ]
    return vs[-1] if vs else None


def _read_version(spark, state_dir: str, version: int, schema=None):
    """Version ``b=<version>``; with the writer's ``schema`` the read
    runs no schema-inference job."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(f"{state_dir}/b={version}")


def _commit_version(frame: DataFrame, state_dir: str, batch_id: int):
    """Write ``frame`` as version ``b=<batch_id>`` and return that
    committed version, read back with ``frame``'s schema: a second
    consumer reads the written files, with no checkpoint job and no
    persisted RDD left behind. ``frame`` must not read ``b=<batch_id>``
    itself (read strictly below): the overwrite deletes it first."""
    frame.write.mode("overwrite").parquet(f"{state_dir}/b={batch_id}")
    return _read_version(frame.sparkSession, state_dir, batch_id, frame.schema)


def _delete_pieces(spark, dirs, names) -> None:
    """Best-effort deletion of version dirs ``names`` under each of
    ``dirs``. Cosmetic: readers already skip superseded versions, so a
    failed delete never fails the caller."""
    for d in dirs:
        fs, Path = _fs(spark, d)
        for name in names:
            try:
                fs.delete(Path(f"{d}/{name}"), True)
            except Exception:
                pass


def _prune_versions(spark, state_dir: str, keep_from: int | None) -> None:
    """Delete every version below ``keep_from``, uncommitted ones
    included (nothing when ``None``)."""
    if keep_from is not None:
        stale = _versions(spark, state_dir, committed_only=False)
        _delete_pieces(
            spark, [state_dir], [f"b={v}" for v in stale if v < keep_from]
        )


def _state_pieces(spark, root: str, enum_sub: str, below: int) -> list[str]:
    """Version pieces of an artifact state dir strictly below
    ``below``: the newest committed generation ``c=<c>`` plus every
    committed delta ``b=<v>`` with ``c < v``, listed from the
    enumerating artifact ``enum_sub``."""
    d = f"{root}/{enum_sub}"
    c0 = _newest_version(spark, d, below, prefix="c=")
    lo = -1 if c0 is None else c0
    bs = [f"b={v}" for v in _versions(spark, d) if lo < v < below]
    return ([f"c={c0}"] if c0 is not None else []) + bs


class _Artifacts(NamedTuple):
    """An artifact gate's state: ``subs`` in commit order, the
    enumerating artifact last; ``cap_cols`` the flood-cap bucket of
    that artifact (the last column carries the stamped cap) and
    ``metric`` its observe label; ``fold`` the transform a read of
    several pieces needs."""

    subs: tuple[str, ...]
    cap_cols: tuple[str, ...]
    metric: str
    fold: Callable[[dict], dict] = dict


def _sum_dfreq(frames: dict) -> dict:
    """Exact history document frequency: the sum of the ``dfreq``
    pieces (a compacted generation's table is already a sum, so
    re-summing it with newer deltas stays exact)."""
    dfreq = frames["dfreq"].groupBy("__tok__").agg(
        F.sum("__df__").alias("__df__")
    )
    return {**frames, "dfreq": dfreq}


_CONTAINMENT = _Artifacts(
    ("dfreq", "sets", "index"), ("__tok__",), "containment_against_bucket",
    _sum_dfreq,
)
_MINHASH = _Artifacts(
    ("shingles", "keys"), ("band", "band_key"), "lsh_bucket_cap"
)


def _read_artifacts(spark, root: str, spec: _Artifacts, pieces) -> dict:
    frames = {
        s: spark.read.parquet(*[f"{root}/{s}/{p}" for p in pieces])
        for s in spec.subs
    }
    return spec.fold(frames)


def _artifact_state(spark, root: str, spec: _Artifacts, below: int):
    """The accumulated artifacts strictly below batch ``below``, in
    reverse commit order (containment ``(index, sets, dfreq)``,
    MinHash ``(keys, shingles)``), or ``None`` when no committed state
    qualifies."""
    pieces = _state_pieces(spark, root, spec.subs[-1], below)
    if not pieces:
        return None
    frames = _read_artifacts(spark, root, spec, pieces)
    return tuple(frames[s] for s in reversed(spec.subs))


def _commit_artifacts(root: str, batch_id: int, frames: dict) -> None:
    """Commit ``frames`` (artifact subdir -> frame, enumerating
    artifact last) as version ``b=<batch_id>``: the others
    concurrently, then the last one once they all returned (a failed
    write raises through ``.result()``). Each pool callable is wrapped
    with ``inheritable_thread_target`` so the batch's job group,
    description and tags reach its writes, and ``query.stop()``
    cancels them; one wrap per write, because a wrap clones the local
    properties once and concurrent jobs must not share the clone."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    *first, last = frames
    spark = frames[last].sparkSession
    with ThreadPoolExecutor(max_workers=len(first)) as pool:
        futs = [
            pool.submit(
                inheritable_thread_target(spark)(_commit_version),
                frames[s], f"{root}/{s}", batch_id,
            )
            for s in first
        ]
        for f in futs:
            f.result()
    _commit_version(frames[last], f"{root}/{last}", batch_id)


def _stamped_max_bucket_pieces(
    spark, piece_dirs: list[str], col: str
) -> int | None:
    """Resolve the build-time flood cap across a FOLD's state pieces
    by reading each piece's own parquet footer (a merged
    multi-path read surfaces whichever piece's schema Spark samples,
    so a stream restarted with a different ``max_bucket`` across
    deltas would be recapped — or not — non-deterministically). The
    builders (``minhash_history_frames``, ``containment_index_frames``)
    stamp the cap they applied into ``col``'s metadata.
    Explicit policy: the MINIMUM stamp across stamped pieces (the
    tightest flood bound any delta was built under — recapping is a
    protective bound, so the conservative merge is the smallest cap);
    ``None`` when NO piece is stamped (a fully-uncapped build folds
    losslessly). Pieces written uncapped alongside capped ones still
    fold under the capped pieces' minimum — the fold's job is
    re-bounding cross-delta growth, which an uncapped delta does not
    exempt its neighbors from."""
    stamps = []
    for d in piece_dirs:
        schema = spark.read.parquet(d).schema
        if col in schema.names:
            mb = (schema[col].metadata or {}).get("max_bucket")
            if mb is not None:
                stamps.append(int(mb))
    return min(stamps) if stamps else None


def _compact(
    spark, root: str, spec: _Artifacts, prune: bool, max_bucket, recap: bool
):
    """Fold an artifact state dir's deltas, all but the newest, into
    ``c=<top>`` (module docstring). ``max_bucket=None`` recaps with the
    stamped cap; ``recap=False`` folds losslessly. Returns ``top``, or
    the existing generation when there is nothing to fold."""
    if max_bucket is not None and int(max_bucket) <= 0:
        # _cap_buckets would drop EVERY bucket and wipe the fold
        raise ValueError(f"max_bucket must be >= 1: {max_bucket}")
    enum = spec.subs[-1]
    c0 = _newest_version(spark, f"{root}/{enum}", prefix="c=")
    fold = [
        v for v in _versions(spark, f"{root}/{enum}") if c0 is None or v > c0
    ][:-1]
    if not fold:
        return c0
    top = fold[-1]
    pieces = _state_pieces(spark, root, enum, below=top + 1)
    frames = _read_artifacts(spark, root, spec, pieces)
    mb = max_bucket
    if mb is None and recap:
        mb = _stamped_max_bucket_pieces(
            spark, [f"{root}/{enum}/{p}" for p in pieces], spec.cap_cols[-1]
        )
    if mb is not None and recap:
        from pd_utils_spark.extensions.dedup import _cap_buckets

        frames[enum] = _cap_buckets(
            frames[enum], list(spec.cap_cols), mb, spec.metric
        )
    for sub in spec.subs:
        frames[sub].write.mode("overwrite").parquet(f"{root}/{sub}/c={top}")
    if prune:
        _delete_pieces(
            spark, [f"{root}/{s}" for s in reversed(spec.subs)], pieces
        )
    return top


def read_latest_state(spark, state_dir: str):
    """Public batch-side reader for any versioned streaming-state dir
    this module writes (``streaming_bloom_dedup`` filters,
    ``streaming_distinct_hll`` sketches, ``streaming_sample_quantiles``
    and ``streaming_weighted_sample`` samples, ``streaming_topk``
    sketches): returns ``(version, DataFrame)`` for the newest
    COMMITTED version (module docstring) — a reader racing a crash
    mid-write never sees partial state — or ``(None, None)`` when no
    committed version exists yet. This is the handoff point between
    the continuously-running stream and downstream batch jobs: join
    yesterday's Bloom filter into an ingest gate, roll a week of
    per-day sample sketches up with ``bottomk_rollup``, estimate from
    the live HLL table — all without touching the stream's
    checkpoint."""
    v = _newest_version(spark, state_dir)
    if v is None:
        return None, None
    return v, _read_version(spark, state_dir, v)


def _start_gate(sdf, process, checkpoint_dir, available_now, release=()):
    """Start ``process`` as a ``foreachBatch`` gate (checkpointed at
    ``checkpoint_dir``; ``available_now`` drains what is available and
    stops) and return the ``StreamingQuery``. After every batch,
    failed or not, the frames operators persisted under the
    ``release`` registry labels are released, so per-batch persists
    never accumulate over a long-running stream."""

    def run(batch_df: DataFrame, batch_id: int) -> None:
        try:
            process(batch_df, batch_id)
        finally:
            for label in release:
                release_registered(label)

    writer = sdf.writeStream.foreachBatch(run).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _summary_gate(
    sdf, output_dir, state_dir, checkpoint_dir, available_now,
    sketch, merge, snapshot,
):
    """Start a constant-state gate over a mergeable summary. Per
    batch: ``sketch`` the batch; ``merge`` it with the version read
    strictly below the batch (the two frames unioned by name); commit
    the result as the batch's version; overwrite ``output_dir`` with
    ``snapshot`` of the committed state plus ``as_of_batch``; prune
    (module docstring). The snapshot is a full overwrite, so its
    readers never see partial state."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        fresh = sketch(batch_df)
        prior = _newest_version(spark, state_dir, below=batch_id)
        if prior is not None:
            old = _read_version(spark, state_dir, prior, fresh.schema)
            fresh = merge(old.unionByName(fresh))
        (
            snapshot(_commit_version(fresh, state_dir, batch_id))
            .withColumn("as_of_batch", F.lit(batch_id).cast("bigint"))
            .write.mode("overwrite")
            .parquet(output_dir)
        )
        _prune_versions(spark, state_dir, keep_from=prior)

    return _start_gate(sdf, process, checkpoint_dir, available_now)


def streaming_exact_dedup(
    sdf: DataFrame,
    textcol: str = "text",
    tscol: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact deduplication: documents whose normalized
    content fingerprint was already seen are dropped — across
    micro-batches, using Spark's keyed dedup state. With ``tscol`` +
    ``watermark`` the fingerprint state is evicted once the watermark
    passes (bounded state); without it state grows with distinct
    fingerprints (exact global dedup — only for bounded corpora).

    The batch twin is ``extensions.dedup.exact_dedup``; same
    fingerprint, different survivor rule (streaming keeps the FIRST
    arrival — order exists on a stream, so first-wins is well defined
    there, while batch uses min-id).
    """
    from pd_utils_spark.extensions.dedup import _norm

    out = sdf.withColumn("__fp__", F.md5(_norm(F.col(textcol)).cast("string")))
    if tscol is not None:
        # state for a fingerprint is dropped once the watermark passes
        # its first arrival — bounded-state dedup
        out = out.withWatermark(tscol, watermark)
        deduped = out.dropDuplicatesWithinWatermark(["__fp__"])
    else:
        deduped = out.dropDuplicates(["__fp__"])
    return deduped.drop("__fp__")


def streaming_band_dedup(
    sdf: DataFrame,
    textcol: str = "text",
    k: int = 3,
    rows_per_band: int = 3,
    tscol: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming NEAR-duplicate dedup via ONE MinHash LSH band: each
    document's first ``rows_per_band`` minhash values (over distinct
    ``k``-word shingles) form a band key; documents whose band key was
    already seen are dropped across micro-batches with Spark's keyed
    dedup state. A pair with Jaccard similarity J collides with
    probability ``J^rows_per_band`` (one-band LSH S-curve — tune
    ``rows_per_band`` down for more recall, up for more precision;
    ``lsh_plan`` computes the curve), so this is the
    recall-configurable streaming counterpart of the banded batch path
    (:func:`pd_utils_spark.extensions.dedup.dedup_minhash_lsh` runs
    ``bands`` such tables and verifies candidates exactly — exact
    verification needs the earlier survivor's shingles, i.e.
    corpus-sized state, which is precisely what a stream cannot hold).
    When exact verification IS required on a stream, use the heavier
    sibling :func:`streaming_minhash_dedup`
    (same module) — a ``foreachBatch`` pipeline that
    round-trips a persistent fingerprint-history table per
    micro-batch; this operator is the in-engine, state-store-only
    form (no external history, no per-batch batch jobs). When one
    band's ``J^rows_per_band`` recall is not enough, use
    :func:`streaming_greedy_band_dedup` — multiple bands
    (``1-(1-J^r)^bands``) via a foreachBatch claims table, still
    16-byte state per key, deterministic min-id survivor rule.

    The band key matches BATCH band 0 of the standard signature
    bit-for-bit (same md5 universal-hash constants, same '|'-joined
    md5 key), so the surviving-key set equals the batch rule's and a
    relational oracle can replay it. With ``tscol`` + ``watermark``
    the per-key state is evicted once the watermark passes (bounded
    state); without it state grows with distinct band keys.

    Scale shape: the signature is computed per row as a pure column
    expression (``array_min`` over ``transform`` per hash — NO
    explode, NO shuffle, streaming-safe), and only ``rows_per_band``
    hashes are evaluated, not the full batch signature. Null/empty
    text hashes to one shared key (all such docs dedup together) —
    filter upstream if that is not wanted.
    """
    from pd_utils_spark.extensions.dedup import attach_minhash_band_key

    if rows_per_band < 1:
        raise ValueError(f"rows_per_band must be >= 1: {rows_per_band}")
    # staged projections (bound token/shingle attributes) — the inline
    # single-expression key re-runs the tokenizer inside every minhash
    # lambda element (no CSE in HOF bodies): measured ~6x at sf0.1
    out = attach_minhash_band_key(
        sdf, textcol, k, rows_per_band, out="__bk__"
    )
    if tscol is not None:
        out = out.withWatermark(tscol, watermark)
        deduped = out.dropDuplicatesWithinWatermark(["__bk__"])
    else:
        deduped = out.dropDuplicates(["__bk__"])
    return deduped.drop("__bk__")


def streaming_greedy_band_dedup(
    sdf: DataFrame,
    output_dir: str,
    history_dir: str,
    checkpoint_dir: str,
    textcol: str = "text",
    idcol: str = "doc_id",
    k: int = 3,
    rows_per_band: int = 3,
    bands: int = 2,
    available_now: bool = False,
):
    """Multi-band streaming near-dup dedup — the recall dial the
    single-band :func:`streaming_band_dedup` lacks: each document
    gets ``bands`` LSH band keys (bit-identical to batch
    :func:`~pd_utils_spark.extensions.dedup.lsh_band_keys` bands), a
    document is dropped when ANY of its keys was already claimed by
    an earlier survivor (1 - (1-J^r)^bands collision curve vs J^r
    for one band), and within each micro-batch the deterministic
    greedy rule of the batch twin
    :func:`~pd_utils_spark.extensions.dedup.dedup_bands_greedy`
    applies (lowest-id per key, band-chained). Survivors append to
    ``output_dir``; their (band, key) claims append to
    ``history_dir``.

    Why ``foreachBatch``: dropping on "any of N keys seen" needs N
    keyed lookups per row against N key spaces — the in-engine dedup
    state (``dropDuplicates``) keys on ONE column set, and chaining N
    of them makes survivor sets depend on intra-batch arrival order
    (not replayable). Per-batch relational joins against a claims
    table express the rule exactly and deterministically; this is
    the same sanctioned batch-join-in-a-stream hook as
    :func:`streaming_minhash_dedup`, with 16-byte claims instead of
    full text history (no exact verification — see the batch twin's
    precision note).

    Exactly-once caveat: the claims table is one append-only table,
    not versioned state. Appends are at-least-once on batch retry,
    and the history check makes replays SAFE (a replayed doc's keys
    are already claimed, so it drops); finish downstream with
    ``exact_dedup`` on id.

    Batch-boundary caveat: the CROSS-batch rule is first-claim-wins —
    a later batch's lower-id document loses to an earlier batch's
    claim on the same key (the greedy min-id rule applies only
    WITHIN a micro-batch). The survivor set is therefore
    deterministic only given fixed batch boundaries; re-running the
    same corpus with a different ``maxFilesPerTrigger`` (or a
    different file split) can change WHICH copy of a near-dup group
    survives, never whether the group is deduped. When the whole
    corpus arrives as ONE batch the result equals the batch twin
    :func:`~pd_utils_spark.extensions.dedup.dedup_bands_greedy`
    exactly.

    Scale shape per batch: map-only key attachment (no explode of
    the corpus — only the claims write explodes survivors), one semi
    join per batch against the claims table on (band, key) — bucket
    the claims table on the key at scale — then ``bands`` map-side
    partial min-aggs + semi joins. State is 16 bytes per claimed
    (band, key), not per document text.

    ``available_now=True`` drains everything currently available and
    terminates (Trigger.AvailableNow) — the batch-backfill mode.
    Returns the started ``StreamingQuery``.
    """
    from pd_utils_spark.extensions.dedup import (
        _greedy_band_filter,
        attach_minhash_band_keys,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # see _spread_batch — a one-file micro-batch otherwise runs the
        # per-doc shingle+minhash map on ONE core; keys are per-row
        # deterministic, so the survivor set is unchanged
        batch_df = _spread_batch(batch_df)
        work = attach_minhash_band_keys(
            batch_df, textcol, k, rows_per_band, bands, out="__bks__"
        )
        # explicit existence check, not try/except: a transient
        # storage error must fail (and retry) the batch — treating it
        # as "no history" would admit duplicates permanently
        fs, Path = _fs(spark, history_dir)
        if fs.exists(Path(history_dir)):
            keyed = work.select(
                F.col(idcol),
                F.posexplode("__bks__").alias("band", "key"),
            )
            claims = spark.read.schema(
                keyed.select("band", "key").schema
            ).parquet(history_dir)
            hit = (
                keyed.join(claims, ["band", "key"], "left_semi")
                .select(idcol)
                .distinct()
            )
            work = work.join(hit, idcol, "left_anti")
        survivors = _greedy_band_filter(work, idcol, bands).localCheckpoint(
            eager=True
        )  # written twice below
        survivors.drop("__bks__").write.mode("append").parquet(output_dir)
        survivors.select(
            F.posexplode("__bks__").alias("band", "key")
        ).write.mode("append").parquet(history_dir)

    # the eager checkpoint materializes the survivor set, so the
    # per-pass frames _greedy_band_filter persisted are superseded
    return _start_gate(
        sdf, process, checkpoint_dir, available_now,
        release=("greedy_band_filter",),
    )


def streaming_bloom_dedup(
    sdf: DataFrame,
    output_dir: str,
    bloom_dir: str,
    checkpoint_dir: str,
    textcol: str = "text",
    idcol: str = "doc_id",
    m_bits: int = 1 << 20,
    k: int = 5,
    available_now: bool = False,
):
    """Streaming EXACT dedup with CONSTANT-size history state: per
    micro-batch, dedup within the batch (min-id keeper,
    :func:`~pd_utils_spark.extensions.dedup.exact_dedup`), drop docs
    whose fingerprint the accumulated Bloom filter (probably) already
    holds, append survivors to ``output_dir``, and fold their
    fingerprints into the filter (:func:`merge_blooms`), stored as a
    one-row versioned state at ``bloom_dir``.

    Why it exists: every other streaming dedup here
    (:func:`streaming_minhash_dedup`'s text history,
    :func:`streaming_greedy_band_dedup`'s claims table) carries state
    that GROWS with the corpus — at 100 TB the history side is the
    cost. The Bloom filter is ``m_bits/8`` bytes FOREVER (128 KiB at
    2^20), the membership probe is map-only, and the whole history
    fits in one broadcast. The price is ~fpp FALSE DROPS of
    genuinely-new documents (there are no false keeps — a member's
    bits are always set); size ``m_bits`` ~ 10 bits per expected
    corpus doc for ~1% fpp at k=5, or run the batch
    ``exact_dedup_against_bloom(verify=True)`` recipe instead when
    false drops are unacceptable.

    Determinism: within one batch the result is a pure function of
    the data (min-id exact dedup; the bloom probe of an empty/fixed
    filter is deterministic). Across batches the survivor SET is
    deterministic given fixed batch boundaries (same caveat as
    :func:`streaming_greedy_band_dedup`), and false drops depend on
    the filter's accumulated fill.

    Replay safety: the filter is versioned state (module docstring):
    a batch probes the filter committed strictly below its own id.
    Survivors append BEFORE the filter version is written, so a
    retried batch re-derives the same survivors, re-appends them
    (at-least-once output — finish downstream with ``exact_dedup`` on
    id) and rewrites only its own version.

    Returns the started ``StreamingQuery``.
    """
    from pd_utils_spark.extensions.dedup import (
        bloom_fingerprints,
        exact_dedup,
        exact_dedup_against_bloom,
        merge_blooms,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = exact_dedup(batch_df, textcol, idcol)
        prior = _newest_version(spark, bloom_dir, below=batch_id)
        old = None
        if prior is not None:
            old = _read_version(spark, bloom_dir, prior, _BLOOM_DDL)
            batch = exact_dedup_against_bloom(
                batch, old, textcol=textcol, idcol=idcol, verify=False
            )
        survivors = batch.localCheckpoint(eager=True)  # consumed twice
        survivors.write.mode("append").parquet(output_dir)
        fresh = bloom_fingerprints(survivors, textcol, m_bits, k)
        merged = merge_blooms(old, fresh) if old is not None else fresh
        _commit_version(merged, bloom_dir, batch_id)
        _prune_versions(spark, bloom_dir, keep_from=prior)

    return _start_gate(sdf, process, checkpoint_dir, available_now)


def streaming_distinct_hll(
    sdf: DataFrame,
    output_dir: str,
    sketch_dir: str,
    checkpoint_dir: str,
    byvars: str | Sequence[str] = "event_type",
    col: str = "user_id",
    lgk: int = 12,
    available_now: bool = False,
):
    """Streaming per-group DISTINCT COUNTING with constant-size state:
    per micro-batch, sketch the batch's ``col`` values per group
    (Apache DataSketches HLL via ``hll_sketch_agg``), UNION into the
    accumulated per-group sketch table, and overwrite an estimates
    snapshot at ``output_dir`` (one row per group: the current
    distinct-count estimate and the batch id that produced it).

    The batch-side twin is ``extensions/sketches.py`` — same sketch,
    same union. State is ``groups x ~2^lgk`` bytes FOREVER, no matter
    how many events stream through: the streaming answer to "distinct
    users per segment, updated continuously" that never carries a
    growing key set (the exact form keeps every key in the state
    store). Accuracy is the configured HLL bound (~1.04/sqrt(2^lgk)
    RSE); small cardinalities are exact (coupon mode). Estimates are
    batching-sensitive WITHIN that bound (see the sketches module
    docstring) — consumers size against the bound, not byte identity.

    State is versioned at ``sketch_dir`` (module docstring): a retried
    batch rebuilds its version from the same predecessor.

    Returns the started ``StreamingQuery``.
    """
    from pd_utils_spark.extensions.sketches import hll_rollup, hll_sketch_by

    byvars_l = to_list(byvars)
    return _summary_gate(
        sdf, output_dir, sketch_dir, checkpoint_dir, available_now,
        sketch=lambda b: hll_sketch_by(b, byvars_l, col, lgk=lgk, out="sk"),
        merge=lambda u: hll_rollup(u, byvars_l, "sk"),
        snapshot=lambda s: s.select(
            *byvars_l,
            F.hll_sketch_estimate("sk").cast("bigint").alias("distinct_estimate"),
        ),
    )


def streaming_containment_dedup(
    sdf: DataFrame,
    output_dir: str,
    history_dir: str,
    checkpoint_dir: str,
    textcol: str = "text",
    idcol: str = "doc_id",
    threshold: float = 0.9,
    k: int = 3,
    max_bucket: int | None = None,
    available_now: bool = False,
):
    """Streaming SUBSUMPTION deduplication: each micro-batch is
    subsumption-deduped within itself (``dedup_containment`` — drop
    docs >= ``threshold`` contained in a larger batch-mate) and then
    against everything accepted before it; survivors append to
    ``output_dir`` — the ingestion gate that keeps re-crawls, quoted
    excerpts and truncations of already-ingested content out of the
    corpus even when their Jaccard is far below any dedup threshold
    (the case :func:`streaming_minhash_dedup` structurally misses).

    **State is the PRECOMPUTED containment index, not the raw
    corpus.** ``history_dir`` holds delta versions (module docstring)
    of the three artifacts of
    :func:`~pd_utils_spark.extensions.dedup.containment_index_frames`
    — ``index`` (inverted index), ``sets`` (verify-side token sets),
    ``dfreq`` (document-frequency deltas; exact history df = sum of
    deltas) — plus ``docs`` (survivor ``(id, text)``, the external
    corpus artifact; the dedup itself never reads it back). Each
    batch PROBES the accumulated artifacts with
    :func:`~pd_utils_spark.extensions.dedup.dedup_containment_against_index`,
    so per-batch cost scales with the BATCH (its shingles, its prefix
    explode, one equi-join into the stored index) — the history text
    is never re-shingled, re-exploded or re-aggregated per batch
    (plan-asserted in ``tests/test_streaming.py``). The one
    per-batch history-sized term left is summing the df deltas
    (O(distinct history tokens), a bounded-width table); at corpus
    scale, compact the deltas periodically
    (:func:`compact_containment_state`) and store ``index`` bucketed
    by ``__tok__`` to make the probe join shuffle-free on the history
    side. Containment still fundamentally needs full shingle sets —
    there is no constant-size sketch with complete recall — so total
    STORED state is corpus-token-sized; this operator's job is keeping
    the per-batch COMPUTE off that term.

    Replay safety: both dedup stages are deterministic and a batch
    reads only state strictly below its own id, so a retried batch
    re-derives identical survivors and overwrites its own versions;
    no crash window loses accepted documents or admits a duplicate
    past the gate (``output_dir`` is at-least-once, the state
    exactly-once). ``max_bucket`` trades exact recall for flood
    protection on the history index (observe metric). One qualifier:
    a RECAPPING compaction run between the crash and the restart can
    shrink what the replayed batch probes, making the replay
    at-least-once on admissions — see
    :func:`compact_containment_state`'s replay caveat.

    Returns the started ``StreamingQuery``.
    """
    from pd_utils_spark.extensions.dedup import (
        _dedup_containment_parts,
        containment_index_frames,
        dedup_containment_against_index,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = _spread_batch(batch_df)
        # ONE shingle pass per micro-batch (r12): the
        # within-batch dedup exposes its persisted (__id__, __tok__)
        # frame, and both the history probe and the artifact build
        # derive their token frames from it by (anti/semi) id joins
        # instead of re-tokenizing the batch text — _containment_toks
        # is a pure per-row function of (id, text), so the derived
        # slices are row-identical to what each stage would have
        # computed itself.
        survivors, btoks, dropped = _dedup_containment_parts(
            batch_df,
            textcol=textcol,
            idcol=idcol,
            threshold=threshold,
            k=k,
            max_bucket=max_bucket,
        )
        surv_toks = btoks.join(
            dropped.select(F.col(idcol).alias("__id__")),
            "__id__",
            "left_anti",
        )
        state = _artifact_state(spark, history_dir, _CONTAINMENT, batch_id)
        if state is not None:
            index, sets, dfreq = state
            # history side was flood-capped at build time (below) — a
            # per-probe cap would re-window the full history index
            # every batch
            survivors = dedup_containment_against_index(
                survivors,
                index,
                sets,
                dfreq,
                textcol=textcol,
                idcol=idcol,
                threshold=threshold,
                k=k,
                max_bucket=None,
                toks=surv_toks,
            )
        survivors = survivors.localCheckpoint(eager=True)  # 5 writes
        # flood cap applied per delta at build — write-once; a bucket
        # spanning deltas is capped per delta, never dropping more
        # than the r9 union-cap did
        frames = containment_index_frames(
            survivors, textcol=textcol, idcol=idcol, k=k,
            max_bucket=max_bucket,
            toks=surv_toks.join(
                survivors.select(F.col(idcol).alias("__id__")),
                "__id__",
                "left_semi",
            ),
        )
        # sets, docs and dfreq overlap: docs reads only
        # the checkpointed survivors, dfreq only the shared htoks
        # cache, and the sets write materializes the htoks+sets
        # caches (concurrent materialization of a shared cached block
        # is safe: the BlockManager computes it once under the block
        # lock)
        _commit_artifacts(history_dir, batch_id, {
            "sets": frames["sets"],
            "docs": survivors.select(idcol, textcol),
            "dfreq": frames["dfreq"],
            "index": frames["index"],
        })
        survivors.write.mode("append").parquet(output_dir)

    return _start_gate(
        sdf, process, checkpoint_dir, available_now,
        release=(
            "containment_join_prefix",
            "dedup_containment_against_index",
            "containment_index_frames",
        ),
    )


def compact_containment_state(
    spark, history_dir: str, prune: bool = True,
    max_bucket: int | None = None, recap: bool = True,
):
    """Fold a :func:`streaming_containment_dedup` state dir's delta
    versions into one compacted generation ``c=<top>``, so the
    per-batch state read opens O(1) directories instead of one per
    historical batch and the df-delta sum touches each token once.
    Run with the stream STOPPED (a concurrent batch could commit a
    new delta mid-fold; nothing corrupts, but that delta could be
    read twice by a reader racing the prune — pinned harmless in
    ``tests/test_streaming.py``).

    **The NEWEST committed delta is never folded** (``top`` = the
    highest version STRICTLY BELOW the newest delta). Artifact state
    is written BEFORE the streaming checkpoint commits, so after a
    crash/stop mid-batch the newest delta can belong to a batch the
    engine will REPLAY on restart; the replayed batch reads versions
    strictly below its own id, which would exclude a ``c=`` built
    from its own delta — and with the covering deltas pruned it
    would probe EMPTY history and silently admit duplicates. Leaving
    the newest delta out keeps every state the replayed batch can
    see complete. Costs one extra delta dir per read.

    Crash-safe by construction (module docstring): a crash at any
    point leaves a state the reader resolves identically. Returns the
    compacted generation id, or the existing one (``None`` when there
    is none) when there is nothing to fold.

    **The build-time flood cap is RE-APPLIED to the folded index**:
    per-delta caps bound each delta independently, so a hot ``__tok__``
    bucket can grow to ``num_deltas x max_bucket`` across a stream's
    lifetime — exactly the quadratic candidate fan-out the cap exists
    to prevent. Folding is the write-once, off-the-hot-path place to
    re-bound it (same recall trade as the build-time cap, same observe
    metric). The cap value defaults to what the builder stamped into
    the artifact metadata (``max_bucket=None`` here = use the stamp;
    uncapped builds stamp nothing and fold losslessly); pass an int
    (>= 1 — 0 raises instead of silently wiping the index) to
    override, or ``recap=False`` to fold a capped build losslessly.
    Stamps are read PER PIECE (not from the merged read's sampled
    footer) and merged as the minimum across stamped pieces — see
    :func:`_stamped_max_bucket_pieces` for the policy.

    Replay caveat (ADVICE r11): recapping weakens the gates' replay
    invariant from "a retried batch re-derives identical survivors"
    to AT-LEAST-ONCE on admissions — a crash -> compact -> restart
    sequence can have the replayed newest batch probe a smaller
    (recapped) history than its original run and admit docs the
    original dropped (never the reverse: compaction only removes
    index rows, and removing index rows only removes drop reasons).
    The newest delta is never folded, which keeps the replayed
    batch's own state visible; the recap of OLDER deltas is what it
    may see differently. Run compaction only after the newest delta's
    batch is confirmed committed in the streaming checkpoint when
    exact replay identity matters, or pass ``recap=False``."""
    return _compact(
        spark, history_dir, _CONTAINMENT, prune, max_bucket, recap
    )


def streaming_sample_quantiles(
    sdf: DataFrame,
    output_dir: str,
    sample_dir: str,
    checkpoint_dir: str,
    byvars: str | Sequence[str] = "event_type",
    col: str = "value",
    id_cols: str | Sequence[str] = "event_id",
    k: int = 512,
    qs: Sequence[float] = (0.25, 0.5, 0.75),
    available_now: bool = False,
):
    """Streaming per-group QUANTILES with constant-size state: per
    micro-batch, bottom-k-by-hash sample the batch's ``col`` rows per
    group (``extensions/sketches.py sample_sketch_by`` — the batch
    twin), merge into the accumulated per-group sample via
    ``bottomk_rollup``, and overwrite a quantile snapshot at
    ``output_dir`` (one row per group: ``q<pct>`` for each requested
    quantile, ``n_sampled``, ``as_of_batch``).

    State is ``groups x k`` (hash, value) structs FOREVER — the
    streaming answer to "p50/p95 per segment, updated continuously"
    without keeping every observation. Rank error ~sqrt(q(1-q)/k);
    while a group's rows fit in ``k`` the sample IS the group and
    every quantile is EXACT.

    Two properties the HLL row cannot offer, both inherited from the
    deterministic bottom-k merge: the accumulated state is
    BATCH-BOUNDARY-INSENSITIVE (any split of the same rows into
    micro-batches yields bit-identical state — merge is
    sort-truncate over row-keyed hashes) and equals the batch twin
    built over the full history in one pass. State is versioned at
    ``sample_dir`` (module docstring).

    Returns the started ``StreamingQuery``.
    """
    from pd_utils_spark.extensions.sketches import (
        bottomk_rollup,
        quantile_estimate,
        sample_sketch_by,
    )

    byvars_l = to_list(byvars)
    q_names = [f"q{int(round(q * 100))}" for q in qs]
    return _summary_gate(
        sdf, output_dir, sample_dir, checkpoint_dir, available_now,
        # single-file micro-batches otherwise hash/struct every batch
        # row on ONE core (see _spread_batch; result is partitioning-
        # independent — deterministic sort-truncate)
        sketch=lambda b: sample_sketch_by(
            _spread_batch(b), byvars_l, col, id_cols=id_cols, k=k, out="sk"
        ),
        merge=lambda u: bottomk_rollup(u, byvars_l, "sk", k=k),
        snapshot=lambda s: quantile_estimate(
            s, "sk", list(qs), drop_sketch=False
        ).select(
            *byvars_l,
            *q_names,
            F.size("sk").cast("bigint").alias("n_sampled"),
        ),
    )


def streaming_topk(
    sdf: DataFrame,
    output_dir: str,
    sketch_dir: str,
    checkpoint_dir: str,
    byvars: str | Sequence[str] = "event_type",
    col: str = "item",
    max_items: int = 64,
    k: int = 10,
    available_now: bool = False,
):
    """Streaming per-group HEAVY HITTERS with constant-size state: per
    micro-batch, build the batch's frequent-items sketch per group
    (``extensions/sketches.py topk_sketch_by`` — the batch twin),
    combine into the accumulated per-group sketch, and overwrite a
    top-``k`` snapshot at ``output_dir`` (group columns + ``item``,
    ``count``, ``as_of_batch``).

    State is ``groups x O(max_items)`` forever — "top products per
    segment, updated continuously" without a growing key set. While a
    group's distinct count stays <= ``max_items`` every count is
    EXACT; past that, the standard frequent-items guarantee holds
    (true heavy hitters never lost, counts never undercount, bounded
    overestimate).

    State is versioned at ``sketch_dir`` (module docstring). Here the
    strictly-below read also guards the counts: frequent-items
    COMBINE IS NOT IDEMPOTENT (re-merging the same batch
    double-counts, where HLL union and bottom-k distinct-merge are
    no-ops).

    Returns the started ``StreamingQuery``.
    """
    from pd_utils_spark.extensions.sketches import (
        topk_estimate,
        topk_rollup,
        topk_sketch_by,
    )

    byvars_l = to_list(byvars)
    return _summary_gate(
        sdf, output_dir, sketch_dir, checkpoint_dir, available_now,
        sketch=lambda b: topk_sketch_by(
            b, byvars_l, col, max_items=max_items, out="sk"
        ),
        merge=lambda u: topk_rollup(u, byvars_l, "sk", max_items=max_items),
        snapshot=lambda s: topk_estimate(s, "sk", k=k),
    )


def streaming_weighted_sample(
    sdf: DataFrame,
    output_dir: str,
    sample_dir: str,
    checkpoint_dir: str,
    byvars: str | Sequence[str] = "event_type",
    col: str = "value",
    weight_col: str = "weight",
    id_cols: str | Sequence[str] = "event_id",
    k: int = 256,
    available_now: bool = False,
):
    """Streaming per-group WEIGHTED sampling with constant-size state:
    per micro-batch, A-ES weighted-sample the batch's rows per group
    (``extensions/sketches.py weighted_sample_sketch_by`` — the batch
    twin), merge into the accumulated sample via ``bottomk_rollup``
    (the exponential keys sort-truncate exactly like the uniform
    ones), and overwrite a snapshot at ``output_dir`` (group columns
    + ``n_sampled``, ``sum_sampled`` and ``as_of_batch``; read the
    full sample via :func:`read_latest_state` on ``sample_dir``).

    The stream keeps a weight-proportional sample WITHOUT replacement
    of everything that ever flowed through, in ``groups x k`` structs
    forever — importance-weighted subsampling as streaming state.
    Same two deterministic-merge properties as
    :func:`streaming_sample_quantiles`, inherited from the same
    sort-truncate: batch-boundary-INSENSITIVE state bit-for-bit, and
    equality with the one-pass batch twin; state is versioned at
    ``sample_dir`` (module docstring).
    While a group's (positive-weight) rows fit in ``k`` the sample IS
    the group and the snapshot aggregates are exact.

    Returns the started ``StreamingQuery``.
    """
    from pd_utils_spark.extensions.sketches import (
        bottomk_rollup,
        weighted_sample_sketch_by,
    )

    byvars_l = to_list(byvars)
    return _summary_gate(
        sdf, output_dir, sample_dir, checkpoint_dir, available_now,
        # see _spread_batch — same single-file micro-batch rationale as
        # streaming_sample_quantiles; A-ES keys are row-deterministic
        sketch=lambda b: weighted_sample_sketch_by(
            _spread_batch(b), byvars_l, col, weight_col, id_cols=id_cols,
            k=k, out="sk",
        ),
        merge=lambda u: bottomk_rollup(u, byvars_l, "sk", k=k),
        snapshot=lambda s: s.select(
            *byvars_l,
            F.size("sk").cast("bigint").alias("n_sampled"),
            F.round(
                F.aggregate(
                    F.col("sk"),
                    F.lit(0.0),
                    lambda acc, x: acc + x["v"],
                ),
                6,
            ).alias("sum_sampled"),
        ),
    )


def streaming_sessionize(
    sdf: DataFrame,
    usercol: str = "user_id",
    tscol: str = "ts",
    gap_seconds: int = 1800,
    tiebreak: str | Sequence[str] | None = None,
    out: str = "session_index",
    state_ttl_seconds: int | None = None,
) -> DataFrame:
    """Streaming row-labeling sessionization: every event row gets its
    1-based per-user ``session_index``, with the (last event time,
    current session number) pair carried across micro-batches in the
    state store — the streaming twin of ``extensions.events.sessionize``
    (same gap rule, microsecond precision). Spark's own
    ``session_window`` aggregation can only emit per-SESSION aggregate
    rows; labeling each event requires custom state, which is exactly
    what ``applyInPandasWithState`` exists for.

    State per user = two longs (O(1) — never a row buffer). Rows are
    ordered by (ts, tiebreak) WITHIN each micro-batch; with in-order
    arrival across batches the labels are identical to the batch
    operator (asserted by the batch==stream equivalence test). Late
    events older than the user's last seen timestamp cannot retract an
    already-emitted boundary — inherent to any single-pass labeler;
    bound disorder upstream with a watermark + ``session_window`` if
    retraction matters more than labels.

    ``state_ttl_seconds``: processing-time TTL for idle users —
    essential on an unbounded user space, where NoTimeout state grows
    with every user EVER seen. A user evicted after the TTL restarts
    at session 1 on return; pick a TTL comfortably above
    ``gap_seconds`` so only genuinely-abandoned users are evicted
    (a returning user past the gap would have started a new session
    anyway — only the session NUMBERING restarts).
    """
    gap_us = int(gap_seconds * 1_000_000)
    order_cols = [tscol] + to_list(tiebreak)
    fields = ", ".join(f"`{n}` {t}" for n, t in sdf.dtypes)
    out_schema = f"{fields}, `{out}` bigint"
    state_schema = "last_us bigint, sess bigint"
    with_ttl = state_ttl_seconds is not None

    def label(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if with_ttl and state.hasTimedOut:
            state.remove()  # idle past the TTL; next event restarts at 1
            return
        if state.exists:
            last_us, sess = state.get
        else:
            last_us, sess = None, 0
        # applyInPandasWithState splits a large group across multiple
        # Arrow chunks (~10k rows each) with no global order guarantee,
        # so the whole batch's rows for this key must be concatenated
        # and sorted ONCE before labeling — sorting each chunk
        # independently would mislabel keys larger than one chunk.
        # State stays O(1); the transient buffer is one key's rows in
        # one micro-batch, which micro-batch sizing already bounds.
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        pdf = pdf.sort_values(order_cols, kind="mergesort")
        ts_us = pdf[tscol].to_numpy().astype("datetime64[us]").astype("int64")
        idxs = []
        for t in ts_us:
            t = int(t)
            if last_us is None or t - last_us > gap_us:
                sess += 1
            last_us = t
            idxs.append(sess)
        pdf = pdf.copy()
        pdf[out] = idxs
        yield pdf
        state.update((last_us, sess))
        if with_ttl:
            state.setTimeoutDuration(int(state_ttl_seconds) * 1000)

    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if with_ttl
        else GroupStateTimeout.NoTimeout
    )
    return sdf.groupBy(usercol).applyInPandasWithState(
        label, out_schema, state_schema, "append", timeout_conf
    )


def streaming_minhash_dedup(
    sdf: DataFrame,
    output_dir: str,
    history_dir: str,
    checkpoint_dir: str,
    textcol: str = "text",
    idcol: str = "doc_id",
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.8,
    max_bucket: int | None = 100_000,
    available_now: bool = False,
):
    """Streaming NEAR-dup deduplication: each micro-batch is deduped
    within itself (``dedup_minhash_lsh``) and against everything that
    survived before it, then survivors append to ``output_dir`` —
    the ingestion-time MinHash dedup recipe via ``foreachBatch``
    (LSH banding needs whole-relation joins per batch, which the
    per-key state store cannot express; foreachBatch is Spark's
    sanctioned batch-join-in-a-stream hook).

    **State is the PRECOMPUTED band-key index, not the raw corpus**
    (same round-9 rebuild as :func:`streaming_containment_dedup`):
    ``history_dir`` holds delta versions (module docstring) of the
    two artifacts of
    :func:`~pd_utils_spark.extensions.dedup.minhash_history_frames` —
    ``keys`` (banded LSH keys) and ``shingles`` (Jaccard verify side)
    — plus ``docs`` (survivor ``(id, text)``, external corpus
    artifact only). Each batch PROBES the accumulated artifacts with
    :func:`~pd_utils_spark.extensions.dedup.dedup_minhash_against_index`,
    so the history text is never re-shingled / re-minhashed /
    re-banded per batch; at scale, store ``keys`` bucketed on
    ``(band, band_key)`` and the candidate join is shuffle-free on
    the history side. :func:`compact_minhash_state` folds deltas into
    a ``c=<top>`` generation (stream stopped).

    Replay safety is the containment gate's: a retried batch
    re-derives identical survivors from the state strictly below its
    id, overwrites its own versions and re-appends; ``output_dir`` is
    at-least-once, the artifact state exactly-once.

    Returns the started ``StreamingQuery``.
    """
    from pd_utils_spark.extensions.dedup import (
        _dedup_minhash_lsh_parts,
        dedup_minhash_against_index,
        minhash_history_frames,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = _spread_batch(batch_df)
        # ONE tokenize pass per micro-batch (r12): the
        # within-batch dedup exposes its persisted shingle frame, and
        # both the history probe and the artifact build derive their
        # shingle frames from it by (anti/semi) id joins instead of
        # re-shingling the batch text — shingle_sets is a pure per-row
        # function of (id, text), so the derived slices are
        # row-identical to what each stage would have computed itself.
        survivors, bsh, losers = _dedup_minhash_lsh_parts(
            batch_df, textcol, idcol, k, num_hashes, bands, threshold,
            max_bucket,
        )
        surv_sh = bsh.join(losers, idcol, "left_anti")
        state = _artifact_state(spark, history_dir, _MINHASH, batch_id)
        if state is not None:
            keys, shingles = state
            survivors = dedup_minhash_against_index(
                survivors,
                keys,
                shingles,
                textcol=textcol,
                idcol=idcol,
                k=k,
                num_hashes=num_hashes,
                bands=bands,
                threshold=threshold,
                max_bucket=max_bucket,
                batch_shingles=surv_sh,
            )
        survivors = survivors.localCheckpoint(eager=True)  # 4 writes
        # band-bucket flood cap applied per delta at build time
        # (write-once); the probe caps only its batch side
        frames = minhash_history_frames(
            survivors, textcol=textcol, idcol=idcol, k=k,
            num_hashes=num_hashes, bands=bands, max_bucket=max_bucket,
            shingles=surv_sh.join(
                survivors.select(idcol), idcol, "left_semi"
            ),
        )
        # docs reads only the checkpointed survivors, so it overlaps
        # the shingles write (which materializes the shared shingle
        # cache the keys build then reads)
        _commit_artifacts(history_dir, batch_id, {
            "shingles": frames["shingles"],
            "docs": survivors.select(idcol, textcol),
            "keys": frames["keys"],
        })
        survivors.write.mode("append").parquet(output_dir)

    return _start_gate(
        sdf, process, checkpoint_dir, available_now,
        release=(
            "dedup_minhash_lsh",
            "minhash_history_frames",
            "dedup_minhash_against_index",
        ),
    )


def compact_minhash_state(
    spark, history_dir: str, prune: bool = True,
    max_bucket: int | None = None, recap: bool = True,
):
    """Fold a :func:`streaming_minhash_dedup` state dir's delta
    versions into one compacted ``c=<top>`` generation — the MinHash
    sibling of :func:`compact_containment_state`, with the same
    crash safety, the same rule that **the newest delta is never
    folded**, and the same return value (run with the stream
    stopped).

    Like its containment sibling, folding RE-APPLIES the build-time
    flood cap to the folded ``keys`` (a hot ``(band, band_key)``
    bucket otherwise grows to ``num_deltas x max_bucket`` over the
    stream's lifetime); the cap defaults to the value the builder
    stamped into the artifact metadata (read PER PIECE, merged as the
    minimum across stamped pieces — see
    :func:`_stamped_max_bucket_pieces`), pass an int (>= 1; 0 raises)
    to override or ``recap=False`` to fold losslessly. The replay
    caveat documented on :func:`compact_containment_state` applies
    verbatim: recapping makes post-compaction replays at-least-once
    on admissions."""
    return _compact(spark, history_dir, _MINHASH, prune, max_bucket, recap)


def stateful_running_agg(
    sdf: DataFrame,
    keys: str | Sequence[str],
    value_col: str = "value",
    timeout: str = "NoTimeout",
    timeout_duration_ms: int = 3_600_000,
) -> DataFrame:
    """Running (sum, count, mean) per key, updated each micro-batch and
    carried across batches in the state store — the canonical custom
    stateful operator (batch-mode groupBy can't do "so far" totals on
    an unbounded stream).

    Output one row per key per batch that touched it:
    ``keys..., running_sum, running_count, running_mean``.
    State per key = two scalars — O(1), partition-local, shuffle only
    on the grouping keys.

    ``timeout='ProcessingTimeTimeout'`` evicts a key's totals after
    ``timeout_duration_ms`` of processing-time inactivity (reset on
    every batch that touches the key) — the state-store TTL that keeps
    per-key state O(active keys) instead of O(all keys ever seen) on
    an unbounded key space. An evicted key that reappears restarts
    from zero.
    """
    keys_l = to_list(keys)
    key_fields = ", ".join(
        f"`{k}` {dict(sdf.dtypes)[k]}" for k in keys_l
    )
    out_schema = (
        f"{key_fields}, running_sum double, running_count bigint, running_mean double"
    )
    state_schema = "total double, cnt bigint"
    with_ttl = timeout != "NoTimeout"

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if with_ttl and state.hasTimedOut:
            # idle past the TTL: evict and emit nothing
            state.remove()
            return
        if state.exists:
            total, cnt = state.get
        else:
            total, cnt = 0.0, 0
        for pdf in pdfs:
            vals = pd.to_numeric(pdf[value_col], errors="coerce").dropna()
            total += float(vals.sum())
            cnt += int(len(vals))
        state.update((total, cnt))
        if with_ttl:
            state.setTimeoutDuration(timeout_duration_ms)
        row = {k: key[i] for i, k in enumerate(keys_l)}
        row["running_sum"] = total
        row["running_count"] = cnt
        row["running_mean"] = total / cnt if cnt else None
        yield pd.DataFrame([row])

    timeout_conf = (
        GroupStateTimeout.NoTimeout
        if timeout == "NoTimeout"
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return sdf.groupBy(*keys_l).applyInPandasWithState(
        update, out_schema, state_schema, "update", timeout_conf
    )
