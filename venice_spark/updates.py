"""Write-compute: partial-update construction and application (W3-W6).

Reference model: each value schema gets a derived "write compute" schema —
per-field union of NoOp | newValue, plus ListOps{setUnion,setDiff} for
arrays and MapOps{mapUnion,mapDiff} for maps
(schema/writecompute/WriteComputeSchemaConverter.java:43-120,
WriteComputeOperation.java:23-66); updates are applied field-wise onto the
stored record (WriteComputeHandlerV1.java:27-).

Spark-first mapping: an *update DataFrame* carries, per value field `f`:
    set_<f>       nullable column — NULL means NoOp, else overwrite
    add_<f>       array column  — elements to add   (list setUnion)
    rem_<f>       array column  — elements to remove (list setDiff)
    mapadd_<f>    map column    — entries to add/overwrite (mapUnion)
    maprem_<f>    array column  — keys to remove            (mapDiff)

`apply_update_columns` merges one update row per key onto the base with pure
Column expressions (no UDF, stays in whole-stage codegen); multi-update logs
are folded with `apply_update_log`, which reduces updates per key in
timestamp order before a single merge join.

Semantics notes:
  - list fields behave as *sorted sets* after union/diff (the reference
    dedups on setUnion; we additionally canonicalize order so results are
    deterministic for oracle comparison — documented deviation from
    insertion-ordered lists).
  - mapUnion: update entries win over existing keys
  - scalar set: coalesce(update, old) == NoOp-preserving overwrite
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from venice_spark.merge.dcr import keep_latest


@dataclass
class UpdateBuilder:
    """Imperative builder mirroring
    internal/venice-common/.../writer/update/UpdateBuilder.java:33-81.
    Produces a dict suitable for spark.createDataFrame rows."""

    key: dict
    ts: int = 0
    _row: dict = dc_field(default_factory=dict)

    def set_field(self, name: str, value) -> "UpdateBuilder":
        self._row[f"set_{name}"] = value
        return self

    def add_to_list(self, name: str, *elems) -> "UpdateBuilder":
        self._row.setdefault(f"add_{name}", []).extend(elems)
        return self

    def remove_from_list(self, name: str, *elems) -> "UpdateBuilder":
        self._row.setdefault(f"rem_{name}", []).extend(elems)
        return self

    def put_map_entries(self, name: str, entries: dict) -> "UpdateBuilder":
        self._row.setdefault(f"mapadd_{name}", {}).update(entries)
        return self

    def remove_map_keys(self, name: str, *keys) -> "UpdateBuilder":
        self._row.setdefault(f"maprem_{name}", []).extend(keys)
        return self

    def build(self) -> dict:
        return {**self.key, "ts": self.ts, **self._row}


# ---- expression library ----

def merged_list(
    old: Column,
    add_col: Column | None,
    rem_col: Column | None,
    set_col: Column | None = None,
) -> Column:
    """W4 setUnion + W5 setDiff as a sorted set.

    The sorted-set canonicalization applies only to rows an update actually
    touched — an element op, or a whole-list set (pass the per-row set
    column as `set_col` so the row counts as touched; under the documented
    sorted-set deviation a replaced list canonicalizes too). Base rows with
    no update pass through verbatim, order and duplicates included.

    Typed empty arrays are built as array_except(x, x) so the expression works
    for any element type without schema introspection."""
    if add_col is None and rem_col is None and set_col is None:
        return old
    cands = [c for c in (old, add_col, rem_col) if c is not None]
    any_arr = F.coalesce(*cands) if len(cands) > 1 else cands[0]
    empty = F.array_except(any_arr, any_arr)
    out = F.coalesce(old, empty)
    touched = F.lit(False) if set_col is None else set_col.isNotNull()
    if add_col is not None:
        out = F.concat(out, F.coalesce(add_col, empty))
        touched = touched | add_col.isNotNull()
    if rem_col is not None:
        out = F.array_except(out, F.coalesce(rem_col, empty))
        touched = touched | rem_col.isNotNull()
    return F.when(touched, F.array_sort(F.array_distinct(out))).otherwise(old)


def merged_map(old: Column, mapadd: Column | None, maprem: Column | None) -> Column:
    """W6 mapUnion (update wins per key) + mapDiff (drop keys)."""
    cands = [c for c in (old, mapadd) if c is not None]
    any_map = F.coalesce(*cands) if len(cands) > 1 else cands[0]
    empty = F.map_filter(any_map, lambda k, v: F.lit(False))
    out = F.coalesce(old, empty)
    if mapadd is not None:
        add = F.coalesce(mapadd, empty)
        kept = F.map_filter(out, lambda k, _: ~F.map_contains_key(add, k))
        out = F.map_concat(kept, add)
    if maprem is not None:
        out = F.when(maprem.isNull(), out).otherwise(
            F.map_filter(out, lambda k, _: ~F.array_contains(maprem, k))
        )
    return out


@dataclass
class FieldSpec:
    name: str
    kind: str = "scalar"  # scalar | list | map


def apply_update_columns(
    base: DataFrame,
    updates: DataFrame,
    key_fields: list[str],
    fields: list[FieldSpec],
) -> DataFrame:
    """Merge one update row per key onto base. Updates for absent keys insert
    new rows (upsert); base rows without updates pass through."""
    joined = base.alias("b").join(updates.alias("u"), on=key_fields, how="full_outer")
    cols: list[Column] = [F.col(k) for k in key_fields]
    for f_ in fields:
        old = F.col(f"b.{f_.name}")
        set_c = _opt(updates, f"set_{f_.name}")
        # whole-collection replacement is a legal write-compute branch for
        # every field kind (WriteComputeSchemaConverter: union of NoOp |
        # <fieldType> | CollectionOps); element ops then apply on top.
        if set_c is not None:
            old = F.coalesce(set_c, old)
        if f_.kind == "scalar":
            c = old
        elif f_.kind == "list":
            c = merged_list(
                old,
                _opt(updates, f"add_{f_.name}"),
                _opt(updates, f"rem_{f_.name}"),
                set_col=set_c,
            )
        elif f_.kind == "map":
            c = merged_map(old, _opt(updates, f"mapadd_{f_.name}"), _opt(updates, f"maprem_{f_.name}"))
        else:  # pragma: no cover
            raise ValueError(f_.kind)
        cols.append(c.alias(f_.name))
    return joined.select(*cols)


def _opt(updates: DataFrame, name: str) -> Column | None:
    return F.col(f"u.{name}") if name in updates.columns else None


def apply_update_log(
    base: DataFrame,
    update_log: DataFrame,
    key_fields: list[str],
    fields: list[FieldSpec],
    ts_col: str = "ts",
) -> DataFrame:
    """Fold a multi-row update log (per-key, ts-ascending) down to one
    effective update per key with aggregate expressions, then apply once.

    Reduction rules per key (matching sequential application):
      set_f     -> last non-null set wins (max_by over ts)
      add_f     -> union of all adds minus later removes is NOT order-free in
                   general; for set semantics (dedup) the fold reduces to:
                   adds = all added elements whose last op wasn't a remove,
                   rems = all removed elements whose last op wasn't an add.
    We compute per-element last-op with explode + window — one shuffle on
    (key, element), scale-safe for 100 TB logs.
    """
    reduced = None
    set_aggs = []
    for f_ in fields:
        set_c = f"set_{f_.name}"
        if set_c in update_log.columns:
            # last non-NoOp set wins: max_by over ts restricted to non-null
            # sets; for collections also track the winning set's ts so older
            # element ops are superseded (sequential semantics: a whole-
            # collection set wipes everything before it).
            set_aggs.append(
                F.max_by(
                    F.col(set_c),
                    F.when(F.col(set_c).isNotNull(), F.col(ts_col)),
                ).alias(set_c)
            )
            if f_.kind in ("list", "map"):
                set_aggs.append(
                    F.max(
                        F.when(F.col(set_c).isNotNull(), F.col(ts_col))
                    ).alias(f"__setts_{f_.name}")
                )
    if set_aggs:
        reduced = update_log.groupBy(*key_fields).agg(*set_aggs)

    def _elem_fold(f_name: str, ops: list[DataFrame], elem_col: str, aggs: list[Column]):
        """Last-op-per-element fold shared by list and map fields: one
        shuffle on (key, element), then per-key collect of survivors.
        Element ops older than the field's winning whole-collection set are
        dropped (the set wiped them); REMOVE wins add/rem ties at equal ts
        — the Venice delete-wins-ties convention (Merge.java:27-38), and
        the same rule the DCR kernel applies, so both consumers of one
        update log converge on identical state."""
        all_ops = ops[0]
        for o in ops[1:]:
            all_ops = all_ops.unionByName(o, allowMissingColumns=True)
        setts_c = f"__setts_{f_name}"
        if reduced is not None and setts_c in reduced.columns:
            setts = reduced.select(*key_fields, setts_c)
            all_ops = all_ops.join(setts, on=key_fields, how="left").filter(
                F.col(setts_c).isNull() | (F.col(ts_col) >= F.col(setts_c))
            )
        last = keep_latest(
            all_ops.filter(F.col(elem_col).isNotNull()),
            [*key_fields, elem_col],
            [F.col(ts_col).desc(), F.col("op").desc()],  # 'rem' > 'add': remove wins ties
        )
        return last.groupBy(*key_fields).agg(*aggs)

    elem_frames = []
    for f_ in fields:
        if f_.kind == "list":
            add_c, rem_c = f"add_{f_.name}", f"rem_{f_.name}"
            ops = []
            if add_c in update_log.columns:
                ops.append(
                    update_log.select(
                        *key_fields, ts_col, F.explode_outer(add_c).alias("elem")
                    ).withColumn("op", F.lit("add"))
                )
            if rem_c in update_log.columns:
                ops.append(
                    update_log.select(
                        *key_fields, ts_col, F.explode_outer(rem_c).alias("elem")
                    ).withColumn("op", F.lit("rem"))
                )
            if not ops:
                continue
            aggs = [
                F.array_sort(
                    F.collect_list(F.when(F.col("op") == kind, F.col("elem")))
                ).alias(col)
                for kind, col in (("add", add_c), ("rem", rem_c))
            ]
            elem_frames.append(_elem_fold(f_.name, ops, "elem", aggs))
        elif f_.kind == "map":
            mapadd_c, maprem_c = f"mapadd_{f_.name}", f"maprem_{f_.name}"
            ops = []
            has_add = mapadd_c in update_log.columns
            if has_add:
                ops.append(
                    update_log.select(
                        *key_fields,
                        ts_col,
                        F.explode_outer(mapadd_c).alias("mk", "mv"),
                    ).withColumn("op", F.lit("add"))
                )
            if maprem_c in update_log.columns:
                ops.append(
                    update_log.select(
                        *key_fields, ts_col, F.explode_outer(maprem_c).alias("mk")
                    ).withColumn("op", F.lit("rem"))
                )
            if not ops:
                continue
            aggs = [
                F.array_sort(
                    F.collect_list(F.when(F.col("op") == "rem", F.col("mk")))
                ).alias(maprem_c)
            ]
            if has_add:
                aggs.insert(
                    0,
                    F.map_from_entries(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("op") == "add",
                                    F.struct(F.col("mk"), F.col("mv")),
                                )
                            )
                        )
                    ).alias(mapadd_c),
                )
            elem_frames.append(_elem_fold(f_.name, ops, "mk", aggs))

    eff = reduced
    for fr in elem_frames:
        eff = fr if eff is None else eff.join(fr, on=key_fields, how="full_outer")
    if eff is None:
        return base
    return apply_update_columns(base, eff, key_fields, fields)


# ---- derived (write-compute) schema generation ----

def derive_update_schema(value_schema, key_fields: list[str]):
    """Derive the write-compute *update schema* for a value schema, the
    StructType equivalent of WriteComputeSchemaConverter.convertFromValueRecordSchema
    (schema/writecompute/WriteComputeSchemaConverter.java:43-120):

      every non-key field f  ->  set_<f>: f.type, nullable (NULL = NoOp)
      array field f          ->  + add_<f>/rem_<f>: f.type (ListOps setUnion/setDiff,
                                   WriteComputeOperation.java:41-48)
      map field f            ->  + mapadd_<f>: f.type, maprem_<f>: array<keyType>
                                   (MapOps mapUnion/mapDiff, WriteComputeOperation.java:50-66)

    plus the key fields themselves and a `ts` long (the logical write
    timestamp every producer path carries). The result is the exact schema
    `UpdateBuilder.build()` rows conform to and `apply_update_log` consumes.
    """
    import pyspark.sql.types as T

    out = []
    for f_ in value_schema.fields:
        if f_.name in key_fields:
            out.append(T.StructField(f_.name, f_.dataType, False))
    out.append(T.StructField("ts", T.LongType(), False))
    for f_ in value_schema.fields:
        if f_.name in key_fields:
            continue
        out.append(T.StructField(f"set_{f_.name}", f_.dataType, True))
        if isinstance(f_.dataType, T.ArrayType):
            out.append(T.StructField(f"add_{f_.name}", f_.dataType, True))
            out.append(T.StructField(f"rem_{f_.name}", f_.dataType, True))
        elif isinstance(f_.dataType, T.MapType):
            out.append(T.StructField(f"mapadd_{f_.name}", f_.dataType, True))
            out.append(
                T.StructField(f"maprem_{f_.name}", T.ArrayType(f_.dataType.keyType), True)
            )
    return T.StructType(out)


def field_specs_from_schema(value_schema, key_fields: list[str]) -> list[FieldSpec]:
    """FieldSpec list (scalar/list/map kinds) inferred from a value schema —
    the shape `apply_update_columns`/`apply_update_log` need."""
    import pyspark.sql.types as T

    specs = []
    for f_ in value_schema.fields:
        if f_.name in key_fields:
            continue
        if isinstance(f_.dataType, T.ArrayType):
            kind = "list"
        elif isinstance(f_.dataType, T.MapType):
            kind = "map"
        else:
            kind = "scalar"
        specs.append(FieldSpec(f_.name, kind))
    return specs
