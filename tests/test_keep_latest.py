"""keep_latest: the one keep-one-row-per-key kernel.

A property test pins it against a Python sort model (composite and
expression keys, ties broken by later order columns, NULL placement of
`desc()` / `asc()`, empty input), and a source scan keeps the library from
growing new hand-rolled `row_number()` windows beside it."""

import ast
import pathlib
import re

import pyspark.sql.functions as F
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from venice_spark.merge.dcr import keep_latest

SCHEMA = "k1 long, k2 string, o1 long, o2 long, id long"

row_st = st.tuples(
    st.integers(0, 5),
    st.sampled_from(["a", "b", "B", None]),
    st.one_of(st.none(), st.integers(0, 3)),
    st.one_of(st.none(), st.integers(0, 3)),
)


def _sort_key(v, direction):
    """Spark's default NULL placement: desc() = NULLS LAST, asc() = NULLS FIRST."""
    if direction == "desc":
        return (1, 0) if v is None else (0, -v)
    return (0, 0) if v is None else (1, v)


def _model(rows, key_mode, d1, d2):
    groups = {}
    for r in rows:
        k1, k2 = r[0], r[1]
        key = (k1, k2) if key_mode == "names" else (k1 % 2, None if k2 is None else k2.lower())
        groups.setdefault(key, []).append(r)
    winners = [
        min(g, key=lambda r: (_sort_key(r[2], d1), _sort_key(r[3], d2), -r[4]))
        for g in groups.values()
    ]
    return sorted(winners, key=lambda r: r[4])


def _order(c, direction):
    return F.col(c).desc() if direction == "desc" else F.col(c).asc()


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@example(rows=[], key_mode="names", d1="desc", d2="asc")
@example(
    # one key, o1 ties -> o2 decides; NULL o1 loses under desc, NULL o2 wins under asc
    rows=[(1, "a", 3, 2), (1, "a", 3, None), (1, "a", None, 0), (2, "b", None, 1)],
    key_mode="names",
    d1="desc",
    d2="asc",
)
@given(
    rows=st.lists(row_st, max_size=60),
    key_mode=st.sampled_from(["names", "exprs"]),
    d1=st.sampled_from(["desc", "asc"]),
    d2=st.sampled_from(["desc", "asc"]),
)
def test_keep_latest_matches_sort_model(spark, rows, key_mode, d1, d2):
    rows = [(*r, i) for i, r in enumerate(rows)]  # unique id: the final tie-break
    df = spark.createDataFrame(rows, SCHEMA).repartition(3)
    keys = ["k1", "k2"] if key_mode == "names" else [F.col("k1") % 2, F.lower("k2")]
    out = keep_latest(df, keys, [_order("o1", d1), _order("o2", d2), F.col("id").desc()])
    assert out.columns == df.columns
    got = sorted((tuple(r) for r in out.collect()), key=lambda r: r[4])
    assert got == _model(rows, key_mode, d1, d2)


# Windowed row_number() sites that are NOT keep-one-per-key: top-k (k > 1)
# and keep-flag columns (every row survives). Everything else goes through
# keep_latest.
_ROW_NUMBER_ALLOWED = {
    ("merge/dcr.py", "keep_latest"),
    ("skew.py", "topk_per_key"),
    ("similarity.py", "knn_join"),
    ("similarity.py", "_rescore_topk"),
    ("pipeline.py", "topk_per_group"),
    ("pipeline.py", "tfidf_top_terms"),
    ("dedup.py", "canonical_docs"),
}


def test_no_hand_rolled_row_number_windows():
    root = pathlib.Path(__file__).resolve().parents[1] / "venice_spark"
    hits = []
    for path in sorted(root.rglob("*.py")):
        src = path.read_text()
        funcs = [
            n for n in ast.walk(ast.parse(src))
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for m in re.finditer(r"row_number\(\)\s*\.over\(", src):
            line = src.count("\n", 0, m.start()) + 1
            enclosing = [f for f in funcs if f.lineno <= line <= f.end_lineno]
            name = (
                min(enclosing, key=lambda f: f.end_lineno - f.lineno).name
                if enclosing else "<module>"
            )
            site = (path.relative_to(root).as_posix(), name)
            if site not in _ROW_NUMBER_ALLOWED:
                hits.append(f"{site[0]}:{line} in {name}")
    assert not hits, "keep-one-per-key windows must call merge.dcr.keep_latest: " + ", ".join(hits)
