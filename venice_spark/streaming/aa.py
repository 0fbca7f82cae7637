"""Active-active hybrid replay: the RT log merged through the full DCR
kernel with per-key state persisted in the serving table.

Reference: AA ingestion's leader loop reads the stored value + replication
metadata for each incoming RT record, runs MergeConflictResolver.put/
update/delete against it, and writes the resolved record back
(clients/da-vinci-client/.../consumer/ActiveActiveStoreIngestionTask.java:
615,640; resolver MergeConflictResolver.java:45-751). The stored RMD is
what makes late/out-of-order/cross-colo writes deterministic.

Spark-first: the serving table carries (key, __state__, value columns,
__deleted) where __state__ is the serialized RecordState — exactly the
role of the reference's RMD: per-field/per-element timestamp registers
plus the record tombstone. Each micro-batch:

  1. ops repartition-join against the prior state of the keys they touch
     (one shuffle on the key — untouched keys are never read or written
     beyond the anti-join);
  2. one applyInPandas fold per touched key: rebuild RecordState from
     JSON, apply the batch's ops through the SAME kernel the batch path
     uses (apply_pdf), re-serialize;
  3. untouched rows ∪ refreshed rows swap in atomically.

Because every register is a pointwise max, the fold is commutative —
arrival order across micro-batches, colos, or replays cannot change the
final state (Merge.java:27-31), and tombstone registers persist in
__state__ so a stale PUT arriving later cannot resurrect a deleted key.

Reads filter __deleted and drop the state column. UPDATE rows (set_* /
add_* / rem_* / mapadd_* / maprem_* columns from UpdateBuilder) get full
field-level semantics on the streaming path — the same columns
merge_op_log accepts in batch mode.
"""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from venice_spark.catalog import StoreCatalog
from venice_spark.merge.dcr import keep_latest


class ActiveActiveReplay:
    """Two merge modes, mirroring HybridReplay:

    mode="rewrite": each micro-batch folds touched keys and the FULL table
    is atomically swapped — O(table) write amplification per trigger.

    mode="append" (the 100 TB shape): each micro-batch appends ONLY its
    refreshed rows, stamped with a log-derived monotone sequence number
    (max existing + 1 — robust to checkpoint resets, unlike the streaming
    batch id); reads resolve latest-stamp-wins per key. Unlike the raw hybrid log (where slot order would let a
    stale PUT beat a fresher row), slot order IS correct here: every
    refreshed row was folded FROM the prior state through the commutative
    DCR kernel, so a later batch's row is authoritative by construction —
    the registers inside __state__ carry the cross-batch timestamp truth.
    `compact()` folds the log to one row per key (tombstone rows kept:
    their registers are what stop stale resurrections)."""

    def __init__(
        self,
        spark: SparkSession,
        catalog: StoreCatalog,
        store: str,
        serving_dir: str,
        value_cols: list[str],
        list_fields: set[str] | None = None,
        map_fields: set[str] | None = None,
        ts_col: str = "ts",
        mode: str = "rewrite",
        compact_every: int = 16,
        buckets: int = 0,
    ):
        if mode not in ("rewrite", "append"):
            raise ValueError(f"unknown merge mode {mode!r}")
        self.spark = spark
        self.catalog = catalog
        self.store = store
        self.serving_dir = serving_dir
        self.key_fields = catalog.get_key_fields(store)
        self.value_cols = list(value_cols)
        self.list_fields = set(list_fields or set())
        self.map_fields = set(map_fields or set())
        self.ts_col = ts_col
        self.mode = mode
        self.compact_every = compact_every
        self._writer_lock_owner = None
        # buckets > 0: the append log is laid out partitionBy(__kb) where
        # __kb = xxhash64(key) % buckets. Per-trigger candidate pruning
        # (_resolve_log(keys=touched)) then reads only the touched keys'
        # bucket DIRECTORIES instead of the whole log's key/stamp/state
        # columns — the scan the r6 20M-row probe showed growing with the
        # log (SCALE.md). A probed batch touches at most min(batch,
        # buckets) dirs, so the read is O(log/buckets * batch-coverage),
        # flat once buckets track store growth. Layout is fixed at seed
        # time: mixing bucketed and flat files in one dir would break
        # partition discovery, so reopening an existing log with the
        # other layout refuses loudly.
        self.buckets = int(buckets)
        if self.buckets and mode != "append":
            raise ValueError(
                "buckets only applies to the append-mode log (rewrite mode "
                "swaps the full table; there is no candidate scan to prune)"
            )
        # Heal a crash-stranded swap BEFORE probing the layout: between
        # atomic_swap_dir's two renames the serving dir is ABSENT, so an
        # unhealed probe sees entries=[] and skips the mismatch refusal —
        # a caller constructed with the wrong `buckets` would then append
        # in the other layout once a later read heals the dir (ADVICE r6).
        from venice_spark.streaming.hybrid import recover_swap_dir

        recover_swap_dir(serving_dir)
        from venice_spark.streaming.hybrid import sweep_leaked_tmps

        sweep_leaked_tmps(serving_dir)
        entries = os.listdir(serving_dir) if os.path.isdir(serving_dir) else []
        # __kb= partition dirs start with an underscore, so the "has data"
        # probe must name them explicitly (underscore-prefixed entries are
        # otherwise markers like _SUCCESS/_seeded_version)
        has_data = any(
            e.startswith("__kb=") or not e.startswith(("_", ".")) for e in entries
        )
        if has_data:
            on_disk = any(e.startswith("__kb=") for e in entries)
            if on_disk != (self.buckets > 0):
                raise ValueError(
                    f"serving dir {serving_dir!r} is "
                    f"{'bucketed' if on_disk else 'flat'} but buckets="
                    f"{buckets} was requested — layout is fixed at seed time"
                )
        if mode == "rewrite":
            from venice_spark.streaming.hybrid import refuse_rewrite_over_append

            refuse_rewrite_over_append(spark, serving_dir, "__aa_batch", "AA")

    # ---- serving-table schema helpers ----
    def _fold_schema(self, ops: DataFrame, snap: DataFrame | None = None) -> "object":
        from pyspark.sql import types as T

        key_schema = ops.select(*self.key_fields).schema
        # a value column absent from THIS micro-batch (e.g. an UPDATE-only
        # batch carrying set_<field> columns) must keep the serving
        # snapshot's real type — a StringType default would Arrow-error or
        # silently widen the serving column on the union-back. _merge_batch
        # passes its already-read snapshot so the footers are not re-listed
        # every trigger (code-review r4).
        snap_types = {}
        try:
            if snap is None:
                snap = self.spark.read.parquet(self.serving_dir)
            snap_types = {f.name: f.dataType for f in snap.schema.fields}
        except Exception:
            pass
        from venice_spark.streaming.hybrid import registered_value_types

        reg = registered_value_types(self.catalog, self.store)
        from venice_spark.schema_compat import promotion_target

        value_types = {}
        for c in self.value_cols:
            if c in ops.columns:
                value_types[c] = ops.schema[c].dataType
            elif c in snap_types:
                value_types[c] = snap_types[c]
            else:
                # a value column in neither this batch nor the snapshot —
                # e.g. a just-registered field no op has touched yet: the
                # registry knows its true type (StringType would poison the
                # serving column the moment a real value arrives)
                value_types[c] = reg.get(c, T.StringType())
            # Avro promotion (VERDICT r7 #2): an evolved store can have a
            # WIDER snapshot/registry type than this batch's ops (registry
            # int->long while the RT flushes still carry int). The fold's
            # declared output must hold the prior state's wide values — a
            # narrow ops type would overflow or Arrow-error on the carry-
            # through of an untouched wide value. Widen to the promotion
            # target; genuinely incompatible pairs keep the priority pick
            # (the write-side union raises on those).
            for other in (snap_types.get(c), reg.get(c)):
                if other is not None:
                    wider = promotion_target(value_types[c], other)
                    if wider is not None:
                        value_types[c] = wider
        return T.StructType(
            list(key_schema.fields)
            + [T.StructField("__state__", T.StringType(), True)]
            + [T.StructField(c, value_types[c], True) for c in self.value_cols]
            + [T.StructField("__deleted", T.BooleanType(), False)]
        )

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            "__kb",
            F.pmod(
                F.xxhash64(*[F.col(k) for k in self.key_fields]),
                F.lit(self.buckets),
            ).cast("int"),
        )

    def _bucket_prune(self, df: DataFrame, keys: DataFrame) -> DataFrame:
        """Directory-prune the log to the probed keys' buckets: the
        distinct-bucket collect is bounded by `buckets` (a config constant,
        never data-sized), and the resulting IN filter is a partition
        filter Spark turns into directory pruning."""
        touched = [
            r["__kb"]
            for r in self._with_bucket(keys).select("__kb").distinct().collect()
        ]
        return df.filter(F.col("__kb").isin(touched))

    def seed(self, base: DataFrame, base_ts: int = 0) -> None:
        """Initialize the serving table from a batch version: every row
        becomes a PUT at `base_ts` folded through the kernel, so RT writes
        with higher timestamps win exactly as the reference's batch-then-RT
        precedence dictates. With buckets set, the log is laid out
        partitionBy(__kb) from the first write."""
        ops = base.select(
            *self.key_fields,
            F.lit("PUT").alias("op"),
            F.lit(base_ts).cast("long").alias(self.ts_col),
            F.lit(0).alias("colo"),
            *[F.col(c) for c in self.value_cols if c in base.columns],
        )
        folded = self._fold_new(ops)
        from venice_spark.streaming.hybrid import set_log_schema

        if self.buckets:
            # cluster rows by bucket before the partitioned write: a bare
            # partitionBy from key-partitioned tasks writes up to
            # tasks x buckets files (32k for one 20M-row seed — measured
            # 10x slower per trigger from listing alone); after the
            # repartition each bucket lands in exactly one task, so the
            # file count is ~buckets
            bucketed = self._with_bucket(folded)
            bucketed.repartition("__kb").write.mode("overwrite").partitionBy(
                "__kb"
            ).parquet(self.serving_dir)
            set_log_schema(self.serving_dir, bucketed.schema)
        else:
            folded.write.mode("overwrite").parquet(self.serving_dir)
            set_log_schema(self.serving_dir, folded.schema)

    def _fold_new(
        self,
        ops: DataFrame,
        prior: DataFrame | None = None,
        snap: DataFrame | None = None,
    ) -> DataFrame:
        """Fold op rows (optionally carrying a prior __state__ per key) into
        one serving row per key."""
        import pandas as pd

        from venice_spark.merge.dcr import (
            RecordState,
            apply_pdf,
            merge_states,
            record_state_from_json,
            record_state_to_json,
        )

        kf = self.key_fields
        vc = self.value_cols
        lf, mf = self.list_fields, self.map_fields
        ts_col = self.ts_col
        non_key = [c for c in ops.columns if c not in kf + ["op", ts_col, "colo", "__state__"]]
        value_cols = [c for c in non_key if not c.startswith(("set_", "add_", "rem_", "mapadd_", "maprem_"))]
        update_cols = [c for c in non_key if c.startswith(("set_", "add_", "rem_", "mapadd_", "maprem_"))]

        if prior is not None:
            ops = ops.join(
                prior.select(*kf, "__state__"), on=kf, how="left"
            )
        elif "__state__" not in ops.columns:
            ops = ops.withColumn("__state__", F.lit(None).cast("string"))
        out_schema = self._fold_schema(ops, snap=snap)

        def fold(pdf: pd.DataFrame) -> pd.DataFrame:
            keys = {k: pdf[k].iloc[0] for k in kf}
            st = RecordState()
            prior_json = next((s for s in pdf["__state__"] if isinstance(s, str)), None)
            if prior_json is not None:
                merge_states(st, record_state_from_json(prior_json))
            batch = pdf.rename(columns={ts_col: "ts"}) if ts_col != "ts" else pdf
            apply_pdf(st, batch, value_cols, update_cols, lf, mf)
            merged = st.finalize(lf, mf)
            row = {**keys, "__state__": record_state_to_json(st)}
            if merged is None:
                row.update({c: None for c in vc})
                row["__deleted"] = True
            else:
                row.update({c: merged.get(c) for c in vc})
                row["__deleted"] = False
            return pd.DataFrame([row])

        return ops.groupBy(*kf).applyInPandas(fold, schema=out_schema)

    def _raw(self) -> DataFrame:
        # Read schema = the writers' schema SIDECAR (see hybrid.log_schema)
        # unioned with the catalog's registered value schema and the
        # __aa_batch stamp — zero footer reads (mergeSchema read EVERY
        # footer on EVERY read: 8.9s vs 2.9s flat at 20M in the r6 probe),
        # and, unlike the pre-r7 one-footer sample, safe under live schema
        # evolution: a value column registered and written mid-serve can
        # never be dropped by sampling a file that predates it (the
        # reference's value schemas are a versioned evolvable list —
        # schema/SchemaEntry.java:1 — and hybrid stores keep serving
        # across additions). Files missing a schema column read as NULL,
        # exactly what the stamp's nulls-last resolution and an added
        # field's null default want.
        from pyspark.sql import types as T

        from venice_spark.streaming.hybrid import (
            log_schema,
            read_log,
            recover_swap_dir,
            registered_value_types,
            resolve_registry_reader,
            union_log_fields,
        )

        recover_swap_dir(self.serving_dir)  # self-heal a crashed swap
        if self.mode != "append":
            return self.spark.read.parquet(self.serving_dir)
        base = log_schema(self.serving_dir)
        if base is None:
            # pre-sidecar log: the historical one-footer sample (the AA
            # fold always emits full rows, so sampling was safe before
            # evolution existed); its next write upgrades it
            base = self.spark.read.parquet(self.serving_dir).schema
        reg = registered_value_types(self.catalog, self.store)
        reg = {c: reg[c] for c in self.value_cols if c in reg}
        fields = union_log_fields(
            list(base.fields),
            [T.StructField(c, t, True) for c, t in reg.items()]
            + [T.StructField("__aa_batch", T.LongType(), True)],
            on_conflict="keep-base",
            casts_out=[],  # cast-level conflicts keep the scannable type
        )
        df = read_log(self.spark, self.serving_dir, T.StructType(fields))
        # registry promotions the scan cannot widen natively (long→double):
        # post-scan cast projection (cast-on-read, VERDICT r8 missing #1;
        # shared helper, code-review r9)
        return resolve_registry_reader(df, reg)

    def _resolve_log(
        self, keys: DataFrame | None = None, raw: DataFrame | None = None
    ) -> DataFrame:
        """One row per key: the latest batch's refreshed row wins (the fold
        merged prior state, so it is authoritative — see class docstring);
        the stampless seed row sorts oldest. `keys` prunes the log to the
        given key set BEFORE the window (resolution is per-key
        independent, so this is equivalent) — without it the window would
        shuffle the ENTIRE log for a batch-sized probe instead of relying
        on an optimizer rule pushing a later semi join through the
        Filter + Window (code-review r5). `raw` lets a caller reuse one
        already-listed read of the log (each `_raw()` re-lists the dir —
        3x per trigger added up on a bucketed layout)."""
        df = self._raw() if raw is None else raw
        if keys is not None:
            if self.buckets:
                df = self._bucket_prune(df, keys)
            df = df.join(F.broadcast(keys), on=self.key_fields, how="left_semi")
        if "__aa_batch" not in df.columns:
            return df
        return keep_latest(df, self.key_fields, [F.col("__aa_batch").desc_nulls_last()])

    def _serialized_writer(self):
        """Store writer lock, re-entrant per handle — see
        HybridReplay._serialized_writer (VERDICT r7 #4); the AA log's
        sidecar read-union-replace and compact stamp fold share the same
        single-writer assumption."""
        from venice_spark.streaming.hybrid import _writer_lock

        return _writer_lock(self)

    def _merge_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        with self._serialized_writer():
            self._merge_batch_locked(batch_df, batch_id)

    def _merge_batch_locked(self, batch_df: DataFrame, batch_id: int) -> None:
        from venice_spark.streaming.hybrid import atomic_swap_dir, recover_swap_dir

        # heal a swap that died between its renames before reading or
        # stamping against the serving dir (ADVICE r5)
        recover_swap_dir(self.serving_dir)
        if self.mode == "append":
            # O(batch) writes: only the touched keys' refreshed rows land.
            # Prior state = resolved log pruned to the touched keys before
            # the window, so compute is batch-sized too; scanning the
            # log's files is the LSM read amplification compact() bounds.
            # Stamp + compaction pressure come from the LOG, not the
            # streaming batch id / an in-memory counter: batch ids restart
            # on checkpoint resets, and the aa_serve facade builds a fresh
            # handle per call so a counter never fires (code-review r5).
            # One _raw() serves the whole trigger (stamp agg + prior
            # resolve + fold schema) — each read re-lists the log dir.
            raw = self._raw()
            # stamp + pressure via the shared helper (same max/floor-
            # filtered-distinct semantics this block used to hand-roll):
            # a one-column scan instead of the full read schema, and the
            # r9 fileset-signature memo makes steady triggers skip the
            # store-sized read entirely (hybrid got this first; the 200M
            # probe showed AA's agg as its own slowly-growing term)
            from venice_spark.streaming.hybrid import log_stamp_pressure

            stamp, n_stamps = log_stamp_pressure(
                self.spark, self.serving_dir, "__aa_batch"
            )
            touched = batch_df.select(*self.key_fields).distinct()
            prior = self._resolve_log(keys=touched, raw=raw)
            refreshed = self._fold_new(batch_df, prior=prior, snap=raw)
            stamped = refreshed.withColumn("__aa_batch", F.lit(stamp).cast("long"))
            from venice_spark.streaming.hybrid import (
                align_to_log_schema,
                extend_log_schema,
            )

            if self.buckets:
                out = self._with_bucket(stamped)
                # write-ahead: the sidecar learns this batch's columns
                # BEFORE any file lands (see extend_log_schema)
                extend_log_schema(self.spark, self.serving_dir, out.schema)
                out = align_to_log_schema(out, self.serving_dir)
                from venice_spark.streaming.hybrid import clear_dead_job_staging

                clear_dead_job_staging(self.serving_dir)
                out.write.mode("append").partitionBy("__kb").parquet(
                    self.serving_dir
                )
                from venice_spark.streaming.hybrid import record_stamp_after_append

                _, n_live = record_stamp_after_append(
                    self.serving_dir, stamp + 1, n_stamps + 1
                )
            else:
                extend_log_schema(self.spark, self.serving_dir, stamped.schema)
                stamped = align_to_log_schema(stamped, self.serving_dir)
                from venice_spark.streaming.hybrid import clear_dead_job_staging

                clear_dead_job_staging(self.serving_dir)
                stamped.write.mode("append").parquet(self.serving_dir)
                from venice_spark.streaming.hybrid import record_stamp_after_append

                _, n_live = record_stamp_after_append(
                    self.serving_dir, stamp + 1, n_stamps + 1
                )
            # n_live, not n_stamps + 1: an empty batch publishes no files,
            # so pressure must not advance (ADVICE r9 — a no-op compact
            # per compact_every empty triggers otherwise)
            if self.compact_every and n_live >= self.compact_every:
                self.compact()
            return
        snap = self.spark.read.parquet(self.serving_dir)
        touched = batch_df.select(*self.key_fields).distinct()
        prior = snap.join(touched, on=self.key_fields, how="left_semi")
        refreshed = self._fold_new(batch_df, prior=prior, snap=snap)
        kept = snap.join(touched, on=self.key_fields, how="left_anti")
        # allowMissingColumns: after a value-schema addition the kept
        # (pre-evolution) snapshot rows lack the new column — null-fill
        # them instead of failing the union (added fields default to null)
        new_snap = kept.unionByName(refreshed, allowMissingColumns=True)
        atomic_swap_dir(new_snap, self.serving_dir, tag="aa")

    def compact(self) -> None:
        """Fold the append log to one row per key (tombstone rows kept —
        their registers stop stale resurrections). Content is unchanged
        by construction.

        Like HybridReplay.compact: an APPEND + deferred GC, never a dir
        swap (VERDICT r6 #3). The folded fileset lands in the same dir
        stamped above every live row; the superseded files are recorded
        in `_gc_pending.json` and deleted at the START of the next
        compaction — so a reader whose plan predates this compact keeps
        reading valid files (identical content) for one full cycle,
        Venice's retained-backup-version discipline (meta/Version.java).
        Every crash window is content-safe (see hybrid.merge_fileset_in).
        Runs under the store writer lock (re-entrant: the inline call
        from _merge_batch holds one lock for the whole trigger)."""
        with self._serialized_writer():
            self._compact_locked()

    def _compact_locked(self) -> None:
        import uuid

        from venice_spark.streaming.hybrid import (
            align_to_log_schema,
            extend_log_schema,
            list_log_data_files,
            merge_fileset_in,
            record_gc_pending,
            run_deferred_gc,
            sweep_compact_orphans,
        )

        run_deferred_gc(self.serving_dir)
        sweep_compact_orphans(self.serving_dir)  # crashed-compact staging
        old_files = list_log_data_files(self.serving_dir)
        raw = self._raw()
        m = raw.agg(F.max("__aa_batch")).collect()[0][0]
        # coalesce to the CURRENT max stamp, not max+1: ties with the
        # latest append are content-identical (each AA append row is the
        # authoritative fold for its key), while stamping above the live
        # max would let a racing trigger's fresher fold tie with this
        # compact's staler one (see HybridReplay.compact)
        stamp = 0 if m is None else int(m)
        out = self._resolve_log(raw=raw).withColumn(
            "__aa_batch", F.lit(stamp).cast("long")
        )
        staging = f"{self.serving_dir}__compact_{uuid.uuid4().hex}"
        if self.buckets:
            if "__kb" not in out.columns:
                out = self._with_bucket(out)
            # see seed(): cluster by bucket or the write fans out
            # tasks x buckets files
            out = out.repartition("__kb")
            extend_log_schema(self.spark, self.serving_dir, out.schema)
            out = align_to_log_schema(out, self.serving_dir)
            out.write.mode("overwrite").partitionBy("__kb").parquet(staging)
        else:
            extend_log_schema(self.spark, self.serving_dir, out.schema)
            out = align_to_log_schema(out, self.serving_dir)
            out.write.mode("overwrite").parquet(staging)
        merge_fileset_in(staging, self.serving_dir)
        record_gc_pending(self.serving_dir, old_files, stamp)
        from venice_spark.streaming.hybrid import record_stamp_after_append

        record_stamp_after_append(self.serving_dir, stamp + 1, 1)

    def start(self, rt_stream: DataFrame, checkpoint_dir: str):
        return (
            rt_stream.writeStream.foreachBatch(self._merge_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )

    def read(self) -> DataFrame:
        """Live view: deleted keys filtered, state column dropped. Rewrite
        mode resolves the registry on read like every other surface
        (code-review r9: it bypassed the r9 cast-on-read widening — an AA
        rewrite store kept serving `long` after a long→double registry
        evolution while append mode, hybrid, and the batch surface all
        served `double`)."""
        df = self._resolve_log() if self.mode == "append" else self._raw()
        if self.mode != "append":
            from venice_spark.streaming.hybrid import (
                registered_value_types,
                resolve_registry_reader,
            )

            reg = registered_value_types(self.catalog, self.store)
            df = resolve_registry_reader(
                df, {c: reg[c] for c in self.value_cols if c in reg}
            )
        return df.filter(~F.col("__deleted")).select(*self.key_fields, *self.value_cols)


def aa_serve(
    engine_store,
    value_cols: list[str],
    list_fields: set[str] | None = None,
    map_fields: set[str] | None = None,
    ts_col: str = "ts",
    mode: str = "append",
    compact_every: int = 16,
    buckets: int = 0,
    now_ts: int | None = None,
):
    """One-call AA serving loop (the facade twin of hybrid_serve for
    active-active stores): seed from the current version if needed, replay
    the RT log through the DCR kernel with a persistent checkpoint, return
    the replay handle. Like hybrid_serve: a NEW batch version drops the
    serving table + checkpoint and re-seeds (per-version buffer replay),
    and the stream schema merges ALL flush footers — a bare read would
    silently drop columns absent from the sampled flush (code-review r4).
    Default mode is "append": per-trigger write cost is O(touched keys),
    never O(table) — see ActiveActiveReplay."""
    from venice_spark.producer import read_rt_log
    from venice_spark.streaming.hybrid import (
        mark_seeded_version,
        reset_serving_if_stale,
    )

    engine_store._rt_retention_seconds()  # misconfig fails before replay
    spark = engine_store.spark
    catalog = engine_store.catalog
    name = engine_store.name
    store_dir = catalog.store_dir(name)
    serving = os.path.join(store_dir, "aa_serving")
    ckpt = os.path.join(store_dir, "_aa_checkpoint")
    cur = catalog.current_version(name)
    reset_serving_if_stale(serving, ckpt, cur)
    replay = ActiveActiveReplay(
        spark, catalog, name, serving, value_cols, list_fields, map_fields, ts_col,
        mode=mode, compact_every=compact_every, buckets=buckets,
    )
    if not os.path.isdir(serving):
        replay.seed(engine_store.df().drop("partition_id"))
        mark_seeded_version(serving, cur)
    rt_dir = catalog.update_log_dir(name)
    if os.path.isdir(rt_dir) and any(f.endswith(".parquet") for f in os.listdir(rt_dir)):
        from venice_spark.streaming.hybrid import run_replay_query

        def _start():
            # rebuilt per attempt: a concurrent rt migration (the restart
            # case) changes both the fileset and the schema
            schema = read_rt_log(spark, catalog, name).schema
            stream = spark.readStream.schema(schema).parquet(rt_dir)
            return replay.start(stream, ckpt)

        run_replay_query(_start)
    # per-store RT retention after a completed serve (same contract as
    # hybrid_serve; the consumer guard keeps a lagging hybrid checkpoint's
    # unread files alive). now_ts pins the retention clock for replayed/
    # backfilled timestamp domains — an unpinnable wall clock would judge
    # every historical-ts file old (code-review r8)
    engine_store._apply_rt_retention(now_ts, ts_col=ts_col)
    return replay
