"""Timestamp-based deterministic conflict resolution (W7) — the
active-active merge kernel.

Reference semantics (re-derived from the documented contract, not ported):
  - Merge.java:27-38 — determinism contract: the final state must be
    identical for ANY arrival order of the same set of operations.
  - AbstractMerge.java:17-80 — record-level rules: higher timestamp wins;
    on a timestamp tie DELETE beats PUT ("delete wins ties"); PUT vs PUT
    ties resolve by deterministic value comparison.
  - MergeConflictResolver.java:45-751 — field-level path: per-field
    timestamps; an UPDATE touches only its fields.
  - CollectionRmdTimestamp / SortBasedCollectionFieldOpHandler — collections
    merge per-element with observed-remove semantics (active element
    timestamps + deleted-element tombstone timestamps) layered under
    whole-collection puts.

Design: everything is a *pointwise max over a total order*, which makes the
fold commutative and associative by construction — determinism is then a
theorem, not a hope (property-tested with shuffled arrival orders anyway):

  op tuple  T = (ts, kind, value_rank, colo)   kind: DELETE/remove=1 > PUT/add=0
  - each scalar field keeps the max of its set/put ops and the record delete
    ops; field exists iff the max is a put/set.
  - each collection keeps (a) the max whole-collection op (PUT of the full
    collection, or record DELETE == PUT of empty) and (b) per element the
    max add/remove op. An element is present iff:
      * its element op out-ties the whole op -> present iff it's an add
      * otherwise -> present iff the whole op contains it.

Spark application: `merge_op_log` groups the op log by key and folds each
group in an `applyInPandas` stage — one shuffle on the key, bounded per-key
state. Python is justified here: genuinely imperative per-record logic with
no Catalyst equivalent (SURVEY §4 custom-work item 1).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field as dc_field
from typing import Any

PUT_KIND = 0
DELETE_KIND = 1


def _rank(value: Any) -> str:
    """Deterministic total-order key for tie-breaking equal timestamps —
    the moral equivalent of the reference's byte-wise value comparison
    (MergeByteBuffer.java): canonical JSON, larger wins."""
    return json.dumps(value, sort_keys=True, default=str)


def _tuple(ts: int, kind: int, value: Any, colo: int) -> tuple:
    return (ts, kind, _rank(value), colo)


def keep_latest(df, keys: list, order: list):
    """One row per key: the first row under `order`, no helper column left.

    The single keep-one-per-key kernel (push delta dedup, the delta-log
    read, hybrid/AA replay, the CDC snapshot, corpus exact dedup). `keys`
    are column names or Columns; `order` is a list of sort Columns and is
    each caller's semantic choice (ts + delete-wins + value rank for RT
    replay, slot index for the delta log, lowest id for dedup). Rows the
    order does not separate tie by shuffle order, so callers that need a
    deterministic winner supply a total order. NULL placement follows the
    sort Column: `desc()` puts NULLs last, `asc()` first.

    Lowering: row_number() == 1 over the key window — Spark turns the
    filter into a WindowGroupLimit (per-partition top-1 before the
    shuffle), and a filter on a key column pushes through the window."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def _freeze(e: Any):
    """Hashable identity for a collection element. Scalars pass through;
    lists/tuples and dicts (array<struct>/map-valued elements) freeze to
    nested tuples — keying registers on the raw element raised
    TypeError: unhashable type for struct elements (code-review r4)."""
    if isinstance(e, dict):
        return ("__map__", tuple(sorted((k, _freeze(v)) for k, v in e.items())))
    if isinstance(e, (list, tuple)):
        return ("__list__", tuple(_freeze(x) for x in e))
    return e


@dataclass
class _Reg:
    """Last-writer-wins register: keeps the max op tuple + its payload."""

    t: tuple | None = None
    value: Any = None

    def offer(self, t: tuple, value: Any = None) -> None:
        if self.t is None or t > self.t:
            self.t, self.value = t, value

    @property
    def is_put(self) -> bool:
        return self.t is not None and self.t[1] == PUT_KIND


def _elem_beats_whole(elem_t: tuple, whole_t: tuple) -> bool:
    """Does an element-level op out-tie the whole-collection op? Compared on
    (ts, kind) only — the reference's sort-based handler puts elements with
    ts <= the collection put's ts into the put-only prefix (the whole put
    wins a ts tie against an element add), while a remove whose ts ties the
    put still blocks that element (delete wins ties), via the deleted-
    element timestamp comparison (SortBasedCollectionFieldOpHandler.java:
    411,762). Pure function of the two maxes -> fold stays commutative."""
    return (elem_t[0], elem_t[1]) > (whole_t[0], whole_t[1])


@dataclass
class CollectionState:
    """Whole-collection LWW register + per-element LWW registers."""

    whole: _Reg = dc_field(default_factory=_Reg)  # value: list | dict
    elems: dict = dc_field(default_factory=dict)  # _freeze(elem) -> _Reg(value=entry val)
    is_map: bool = False
    # frozen identity -> the original element, so outputs/serialization
    # carry real values while registers key on hashables
    originals: dict = dc_field(default_factory=dict)

    def put_whole(self, collection, ts: int, colo: int) -> None:
        self.whole.offer(_tuple(ts, PUT_KIND, collection, colo), collection)

    def delete_whole(self, ts: int, colo: int) -> None:
        self.whole.offer(_tuple(ts, DELETE_KIND, None, colo), None)

    def add(self, elem, val, ts: int, colo: int) -> None:
        fz = _freeze(elem)
        self.originals.setdefault(fz, elem)
        self.elems.setdefault(fz, _Reg()).offer(_tuple(ts, PUT_KIND, val, colo), val)

    def remove(self, elem, ts: int, colo: int) -> None:
        fz = _freeze(elem)
        self.originals.setdefault(fz, elem)
        self.elems.setdefault(fz, _Reg()).offer(_tuple(ts, DELETE_KIND, None, colo), None)

    def _present(self) -> dict:
        base = self.whole.value if self.whole.is_put else ([] if not self.is_map else {})
        if self.is_map:
            base_items = {}
            for k, v in dict(base).items():
                fz = _freeze(k)
                self.originals.setdefault(fz, k)
                base_items[fz] = v
        else:
            base_items = {}
            for e in base or []:
                fz = _freeze(e)
                self.originals.setdefault(fz, e)
                base_items[fz] = None
        whole_t = self.whole.t
        out = {}
        for e, v in base_items.items():
            # element survives unless an element op out-ties the whole op AND
            # that op is a remove (or overwrites the value for maps)
            reg = self.elems.get(e)
            if reg is not None and whole_t is not None and _elem_beats_whole(reg.t, whole_t):
                if reg.is_put:
                    out[e] = reg.value
                # else removed
            else:
                out[e] = v
        for e, reg in self.elems.items():
            if e in out:
                continue
            if (whole_t is None or _elem_beats_whole(reg.t, whole_t)) and reg.is_put:
                out[e] = reg.value
        return out

    def as_list(self) -> list:
        return sorted(
            (self.originals.get(k, k) for k in self._present()), key=_rank
        )

    def as_map(self) -> dict:
        return dict(
            sorted(
                (
                    (self.originals.get(k, k), v)
                    for k, v in self._present().items()
                ),
                key=lambda kv: _rank(kv[0]),
            )
        )

    def has_elements(self) -> bool:
        return bool(self._present())


@dataclass
class RecordState:
    """Per-key merge state: per-field LWW registers + collection states."""

    scalars: dict = dc_field(default_factory=dict)  # name -> _Reg
    collections: dict = dc_field(default_factory=dict)  # name -> CollectionState

    def _scalar(self, name: str) -> _Reg:
        return self.scalars.setdefault(name, _Reg())

    def _coll(self, name: str, is_map: bool) -> CollectionState:
        cs = self.collections.setdefault(name, CollectionState(is_map=is_map))
        cs.is_map = cs.is_map or is_map
        return cs

    def apply_put(self, value: dict, ts: int, colo: int, list_fields: set, map_fields: set) -> None:
        for name, v in value.items():
            if name in list_fields:
                self._coll(name, False).put_whole(list(v or []), ts, colo)
            elif name in map_fields:
                self._coll(name, True).put_whole(dict(v or {}), ts, colo)
            else:
                self._scalar(name).offer(_tuple(ts, PUT_KIND, v, colo), v)

    def apply_delete(self, ts: int, colo: int) -> None:
        t = _tuple(ts, DELETE_KIND, None, colo)
        for reg in self.scalars.values():
            reg.offer(t)
        for cs in self.collections.values():
            cs.delete_whole(ts, colo)
        # a delete must also dominate fields it hasn't seen yet: record it
        self._scalar("__record__").offer(t)

    def apply_update(self, update: dict, ts: int, colo: int) -> None:
        for k, v in update.items():
            if v is None:
                continue
            if k.startswith("set_"):
                self._scalar(k[4:]).offer(_tuple(ts, PUT_KIND, v, colo), v)
            elif k.startswith("add_"):
                cs = self._coll(k[4:], False)
                for e in v:
                    cs.add(e, None, ts, colo)
            elif k.startswith("rem_"):
                cs = self._coll(k[4:], False)
                for e in v:
                    cs.remove(e, ts, colo)
            elif k.startswith("mapadd_"):
                cs = self._coll(k[7:], True)
                for ek, ev in v.items():
                    cs.add(ek, ev, ts, colo)
            elif k.startswith("maprem_"):
                cs = self._coll(k[7:], True)
                for ek in v:
                    cs.remove(ek, ts, colo)

    def finalize(self, list_fields: set, map_fields: set) -> dict | None:
        """Final record, or None when deleted. The record-level tombstone
        (max delete op) suppresses any scalar/collection state it dominates."""
        tomb = self.scalars.get("__record__")
        tomb_t = tomb.t if tomb is not None else None
        out = {}
        alive = False
        for name, reg in self.scalars.items():
            if name == "__record__":
                continue
            t = reg.t
            if t is None or not reg.is_put:
                continue
            if tomb_t is not None and t <= tomb_t:
                continue
            out[name] = reg.value
            alive = True
        for name, cs in self.collections.items():
            if tomb_t is not None and (cs.whole.t is None or cs.whole.t < tomb_t):
                cs.delete_whole(tomb_t[0], tomb_t[3])
            present = cs.has_elements()
            # an un-tombstoned whole-collection PUT keeps the record alive
            # even when its surviving element set is empty: PUT {'tags':[]}
            # or removing the last element must leave an empty-collection
            # record, never silently delete it (only an explicit DELETE op
            # kills the record)
            put_alive = cs.whole.is_put and cs.whole.t is not None
            out[name] = cs.as_map() if (cs.is_map or name in map_fields) else cs.as_list()
            alive = alive or present or put_alive
        return out if alive else None


def merge_ops(
    ops: list[dict],
    list_fields: set[str] | None = None,
    map_fields: set[str] | None = None,
) -> dict | None:
    """Fold an op list (ANY order) to the final record, or None if deleted."""
    list_fields = list_fields or set()
    map_fields = map_fields or set()
    st = RecordState()
    for op in ops:
        kind = op["op"]
        ts, colo = int(op["ts"]), int(op.get("colo", 0))
        if kind == "PUT":
            st.apply_put(op["value"], ts, colo, list_fields, map_fields)
        elif kind == "DELETE":
            st.apply_delete(ts, colo)
        elif kind == "UPDATE":
            st.apply_update(op["update"], ts, colo)
        else:  # pragma: no cover
            raise ValueError(kind)
    return st.finalize(list_fields, map_fields)


def apply_pdf(
    st: RecordState,
    pdf,
    value_cols: list[str],
    update_cols: list[str],
    list_fields: set,
    map_fields: set,
    op_col: str = "op",
    ts_col: str = "ts",
) -> None:
    """Apply every row of a pandas batch to a RecordState, column-wise.

    Columns are pulled out as Python lists once (`.tolist()`), then a plain
    index loop applies each op — ~10× faster than `iterrows` (which builds a
    pandas Series per row) with identical semantics."""
    n = len(pdf)
    ops = pdf[op_col].tolist()
    tss = pdf[ts_col].tolist()
    colos = pdf["colo"].tolist() if "colo" in pdf.columns else [0] * n
    vals = {c: pdf[c].tolist() for c in value_cols}
    upds = {c: pdf[c].tolist() for c in update_cols}
    for i in range(n):
        kind = ops[i]
        ts, colo = int(tss[i]), int(colos[i])
        if kind == "PUT":
            st.apply_put(
                {c: _from_pandas(vals[c][i]) for c in value_cols},
                ts, colo, list_fields, map_fields,
            )
        elif kind == "DELETE":
            st.apply_delete(ts, colo)
        elif kind == "UPDATE":
            st.apply_update({c: _from_pandas(upds[c][i]) for c in update_cols}, ts, colo)
        else:  # pragma: no cover
            raise ValueError(kind)


def merge_states(a: RecordState, b: RecordState) -> RecordState:
    """Merge two partial RecordStates into `a` (commutative + associative:
    every register is a pointwise max, so merging partial folds equals
    folding everything — the algebra behind the map-side pre-combine)."""
    for name, reg in b.scalars.items():
        if reg.t is not None:
            a._scalar(name).offer(reg.t, reg.value)
    for name, cs in b.collections.items():
        tgt = a._coll(name, cs.is_map)
        if cs.whole.t is not None:
            tgt.whole.offer(cs.whole.t, cs.whole.value)
        for e, r in cs.elems.items():
            if r.t is not None:
                tgt.elems.setdefault(e, _Reg()).offer(r.t, r.value)
    return a


def merge_op_log(
    op_log,
    key_fields: list[str],
    output_schema: str,
    list_fields: set[str] | None = None,
    map_fields: set[str] | None = None,
    pre_combine: bool = False,
    num_partitions: int | None = None,
):
    """Batch DCR over a Spark op-log DataFrame: one shuffle on the key, fold
    per key with the commutative kernel, deleted keys emit no row.

    op_log columns: key_fields + op + ts + colo + one column per value field
    (for PUT rows) and/or update columns set_/add_/rem_/mapadd_/maprem_
    (for UPDATE rows).

    num_partitions switches to the fast path: one explicit repartition by
    key (co-locating each key's ops), then a mapInPandas fold that groups
    *inside* each Arrow batch with pandas groupby — no per-group Spark
    overhead, no Sort stage. Also pins the fold's parallelism: AQE
    coalesces shuffles by *bytes*, which under-parallelizes a CPU-bound
    Python fold (measured 2 tasks for a 100k-op log → 2.7s vs 32 → 1.0s;
    the grouped applyInPandas variant of the same fold costs 3.2s in
    per-group overhead at 1500 keys).

    pre_combine=True adds a map-side partial fold (the kernel is commutative
    and associative, so folding per input partition first and merging the
    partial states after the shuffle is exact): each input partition emits
    one serialized RecordState per key it saw, so the shuffle carries
    O(partitions × distinct keys) state rows instead of every op — the same
    win as Spark's own partial aggregation, applied to a custom kernel.
    Worth it when ops-per-key ≫ input partition count (hot-key op logs);
    when most keys appear in every partition it only adds state-JSON
    round-trips (measured slower on a uniform 67-ops/key log — so it is a
    knob, not the default). Requires JSON-round-trippable value types;
    partial states are held in memory per input partition (bounded by
    distinct keys per partition, not ops).
    """
    import pandas as pd
    from pyspark.sql import types as T

    non_key = [c for c in op_log.columns if c not in key_fields + ["op", "ts", "colo"]]
    value_cols = [c for c in non_key if not _is_update_col(c)]
    update_cols = [c for c in non_key if _is_update_col(c)]
    lf = set(list_fields or set())
    mf = set(map_fields or set())

    def _accumulate(states: dict, batches) -> dict:
        """Fold Arrow batches into per-key RecordStates (pandas groupby does
        the within-batch grouping — C-speed, no per-group Spark overhead)."""
        for pdf in batches:
            for key, grp in pdf.groupby(key_fields, dropna=False, sort=False):
                if not isinstance(key, tuple):
                    key = (key,)
                # pandas surfaces a null numeric key as NaN, and each Arrow
                # batch makes a FRESH NaN (NaN != NaN) — keying raw would
                # fold one null key into several states (code-review r4)
                key = tuple(
                    None if (c is None or (isinstance(c, float) and c != c)) else c
                    for c in key
                )
                st = states.get(key)
                if st is None:
                    states[key] = st = RecordState()
                apply_pdf(st, grp, value_cols, update_cols, lf, mf)
        return states

    def _emit(keys: dict, st: RecordState) -> pd.DataFrame:
        merged = st.finalize(lf, mf)
        if merged is None:
            return pd.DataFrame(columns=list(keys) + value_cols)
        return pd.DataFrame([{**keys, **{c: merged.get(c) for c in value_cols}}])

    if num_partitions and not pre_combine:
        scalar_only = not update_cols and not lf and not mf

        if scalar_only:
            # Vectorized scalar fold: for PUT/DELETE-only logs over scalar
            # fields the per-field register algebra collapses to, per field,
            # "argmax of (ts, value-rank, colo) among PUTs, suppressed when a
            # DELETE with ts >= that max exists" (delete-wins-ties:
            # AbstractMerge.java:48-66 — at equal ts the DELETE tuple's kind
            # ranks above PUT, so survival needs ts strictly greater). That
            # is one C-speed sort + groupby-tail per field instead of a
            # Python loop per op (~4x wall on the w7 bench query); a
            # Hypothesis test pins exact equivalence to the general kernel
            # under ties, NaNs and arbitrary arrival orders.
            def fold_scalar(batches):
                pdfs = list(batches)
                if not pdfs:
                    return
                pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
                out = _fold_scalar_pdf(pdf, key_fields, value_cols, ts_col="ts")
                if len(out):
                    yield out

            return op_log.repartition(num_partitions, *key_fields).mapInPandas(
                fold_scalar, schema=output_schema
            )

        # general fast path: keys co-located by the explicit repartition,
        # whole partition folded in one pass, one output batch per partition
        def fold_partition(batches):
            states = _accumulate({}, batches)
            rows = []
            for k, st in states.items():
                merged = st.finalize(lf, mf)
                if merged is not None:
                    rows.append(
                        {**dict(zip(key_fields, k)), **{c: merged.get(c) for c in value_cols}}
                    )
            if rows:
                yield pd.DataFrame(rows)

        return op_log.repartition(num_partitions, *key_fields).mapInPandas(
            fold_partition, schema=output_schema
        )

    if not pre_combine:
        def fold(pdf: pd.DataFrame) -> pd.DataFrame:
            keys = {k: pdf[k].iloc[0] for k in key_fields}
            st = RecordState()
            apply_pdf(st, pdf, value_cols, update_cols, lf, mf)
            return _emit(keys, st)

        return op_log.groupBy(*key_fields).applyInPandas(fold, schema=output_schema)

    if num_partitions:
        op_log = op_log.repartition(num_partitions, *key_fields)

    key_schema = op_log.select(*key_fields).schema
    partial_schema = T.StructType(
        list(key_schema.fields) + [T.StructField("__state__", T.StringType(), True)]
    )

    def partial(batches):
        states = _accumulate({}, batches)
        if states:
            yield pd.DataFrame(
                [
                    {**dict(zip(key_fields, k)), "__state__": record_state_to_json(st)}
                    for k, st in states.items()
                ]
            )

    partials = op_log.mapInPandas(partial, schema=partial_schema)

    def reduce_fold(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = {k: pdf[k].iloc[0] for k in key_fields}
        st = RecordState()
        for s in pdf["__state__"].tolist():
            merge_states(st, record_state_from_json(s))
        return _emit(keys, st)

    return partials.groupBy(*key_fields).applyInPandas(reduce_fold, schema=output_schema)


def _fold_scalar_pdf(pdf, key_fields: list[str], value_cols: list[str], ts_col: str = "ts"):
    """Vectorized per-partition fold for scalar PUT/DELETE op logs.

    Semantics identical to RecordState (pinned by test_dcr_fast_path):
      - per field: winner = max (ts, _rank(value), colo) among PUTs — the
        register's total order with kind fixed to PUT;
      - record tombstone = max DELETE ts; a field survives only with
        winner.ts > tombstone.ts (kind=DELETE out-ranks PUT on a ts tie, so
        >= means deleted);
      - a key emits a row iff at least one field survives; dead fields are
        NULL in the emitted row (matching finalize's absent-field dicts).
    """
    import pandas as pd

    dels = pdf[pdf["op"] == "DELETE"]
    del_ts = (
        dels.groupby(key_fields, dropna=False, sort=False)[ts_col].max()
        if len(dels)
        else None
    )
    puts = pdf[pdf["op"] == "PUT"]
    if not len(puts):
        return pd.DataFrame(columns=key_fields + value_cols)
    colo = puts["colo"] if "colo" in puts.columns else 0
    frames = []
    for f in value_cols:
        r = puts[key_fields + [ts_col, f]].copy()
        r["__rk"] = puts[f].map(lambda v: _rank(_from_pandas(v)))
        r["__colo"] = colo
        r = r.sort_values([ts_col, "__rk", "__colo"], kind="stable")
        r = r.groupby(key_fields, dropna=False, sort=False).tail(1)
        r = r.set_index(key_fields)
        frames.append(
            r[[f, ts_col]].rename(columns={ts_col: f"__ts_{f}"})
        )
    wide = pd.concat(frames, axis=1)
    if del_ts is not None:
        dts = del_ts.reindex(wide.index)
    alive = pd.Series(False, index=wide.index)
    for f in value_cols:
        if del_ts is not None:
            dead = dts.notna() & (wide[f"__ts_{f}"] <= dts)
        else:
            dead = pd.Series(False, index=wide.index)
        if dead.any():
            wide[f] = wide[f].astype(object)
            wide.loc[dead, f] = None
        alive |= ~dead
    return wide.loc[alive, value_cols].reset_index()[key_fields + value_cols]


def _is_update_col(c: str) -> bool:
    return c.startswith(("set_", "add_", "rem_", "mapadd_", "maprem_"))


def _from_pandas(v):
    import numpy as np

    if isinstance(v, np.ndarray):
        return v.tolist()
    if isinstance(v, np.generic):
        return v.item()
    if isinstance(v, dict):
        return dict(v)
    if v is None:
        return None
    if isinstance(v, float) and v != v:  # NaN -> missing
        return None
    return v


# ---- state serialization (for streaming DCR: state rides in GroupState) ----

def _reg_to_dict(r: _Reg) -> dict:
    return {"t": list(r.t) if r.t is not None else None, "value": r.value}


def _reg_from_dict(d: dict) -> _Reg:
    return _Reg(t=tuple(d["t"]) if d["t"] is not None else None, value=d["value"])


def record_state_to_json(st: RecordState) -> str:
    return json.dumps(
        {
            "scalars": {k: _reg_to_dict(r) for k, r in st.scalars.items()},
            "collections": {
                k: {
                    "whole": _reg_to_dict(cs.whole),
                    "elems": [
                        [cs.originals.get(e, e), _reg_to_dict(r)]
                        for e, r in cs.elems.items()
                    ],
                    "is_map": cs.is_map,
                }
                for k, cs in st.collections.items()
            },
        },
        default=str,
    )


def record_state_from_json(s: str) -> RecordState:
    d = json.loads(s)
    st = RecordState()
    st.scalars = {k: _reg_from_dict(r) for k, r in d["scalars"].items()}
    for k, cd in d["collections"].items():
        cs = CollectionState(is_map=cd["is_map"])
        cs.whole = _reg_from_dict(cd["whole"])
        # elements are stored as their ORIGINAL values; re-freeze on load
        # (lists/tuples unify under _freeze, so the round trip is exact)
        for e, r in cd["elems"]:
            fz = _freeze(e)
            cs.originals.setdefault(fz, e)
            cs.elems[fz] = _reg_from_dict(r)
        st.collections[k] = cs
    return st
