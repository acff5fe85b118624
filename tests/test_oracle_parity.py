"""Local replica of the driver's t2 correctness gate: run every registry
query on Spark and its oracle on DuckDB, compare row count, column names,
and order-insensitive values.
"""

from __future__ import annotations

import math
import pathlib
from decimal import Decimal

import duckdb
import pytest

from mine_database_spark.queries.registry import ORACLES, QUERIES

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _duck(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float):
        return round(v, 9)
    return v


def _rows_to_set(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    # NULL-safe total order: None sorts before any value
    return sorted(
        (tuple(_norm(r[i]) for i in idx) for r in rows),
        key=lambda t: tuple((v is not None, "" if v is None else str(type(v)), v) for v in t),
    )


# The driver's value hash is TYPE-sensitive: round 7's token_shards row went
# red solely because DuckDB typed an uncast SUM(...) OVER as HUGEINT (int128)
# while Spark returned BIGINT — values were identical.  Python-int
# normalization in _norm() is blind to that class, so we compare type KINDS
# explicitly and ban the DuckDB-only widths (HUGEINT/DECIMAL) outright: no
# Spark query ever produces them, so any oracle emitting one is a latent
# driver-hash mismatch even when the local value compare passes.
# Integer WIDTHS are compared exactly (i8/i16/i32/i64): we only KNOW the
# driver hash breaks on non-int64-representable types, but whether it
# distinguishes int32 from int64 is unobserved — exact widths make the local
# gate strictly stronger than either answer, at the cost of a CAST in a few
# oracles.  Unsigned widths are banned like HUGEINT rather than collapsed
# onto the signed kind: a UBIGINT above 2^63-1 would pass a signed-kind
# gate while breaking the driver hash — the same latent-mismatch class —
# and no Spark query produces unsigned types, so any oracle yielding one
# should CAST explicitly.
_FORBIDDEN_DUCK = ("HUGEINT", "DECIMAL", "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT")

_SPARK_KIND = {
    "tinyint": "i8", "smallint": "i16", "int": "i32", "bigint": "i64",
    "float": "float", "double": "float",
    "string": "str", "boolean": "bool", "date": "date",
    "timestamp": "ts", "timestamp_ntz": "ts", "binary": "bin",
}

_DUCK_KIND = {
    "TINYINT": "i8", "SMALLINT": "i16", "INTEGER": "i32", "BIGINT": "i64",
    "FLOAT": "float", "DOUBLE": "float",
    "VARCHAR": "str", "BOOLEAN": "bool", "DATE": "date",
    "TIMESTAMP": "ts", "TIMESTAMP WITH TIME ZONE": "ts",
    "TIMESTAMP_NS": "ts", "BLOB": "bin",
}


def _spark_kind(dt: str) -> str:
    if dt.startswith("array<") and dt.endswith(">"):
        return "list<" + _spark_kind(dt[6:-1]) + ">"
    return _SPARK_KIND.get(dt, dt)


def _duck_kind(dt: str) -> str:
    if dt.endswith("[]"):
        return "list<" + _duck_kind(dt[:-2]) + ">"
    return _DUCK_KIND.get(dt, dt)


def _assert_type_parity(name, scols, sdtypes, dcols, dtypes):
    for c, t in zip(dcols, dtypes):
        assert not any(f in t for f in _FORBIDDEN_DUCK), (
            f"{name}: oracle column {c!r} is {t} — cast it (Spark never emits "
            "HUGEINT/DECIMAL, and the driver's value hash is type-sensitive)"
        )
    skinds = {c: _spark_kind(t) for c, t in zip(scols, sdtypes)}
    dkinds = {c: _duck_kind(t) for c, t in zip(dcols, dtypes)}
    # Array/list columns in a FINAL projection are banned on BOTH sides:
    # the driver's canonicalizer sorts the result in pandas, and pandas
    # factorize() dies on list-typed cells ("unhashable type: 'list'",
    # inverted_index round 10 — the second local-replica blind spot after
    # round 7's HUGEINT; Python compares tuples-of-lists fine, so the
    # value compare below would happily pass).  Render sets/lists as
    # concat_ws / array_to_string strings (registry.py collect_set_union
    # is the convention).
    listy = {
        c: k
        for c, k in list(skinds.items()) + list(dkinds.items())
        if k.startswith(("list<", "map<", "struct<"))
        or k.startswith(("MAP(", "STRUCT("))
    }
    assert not listy, (
        f"{name}: non-scalar FINAL projection {listy} — the driver's pandas "
        "canonicalizer cannot hash list/map/struct cells; render as a "
        "joined string"
    )
    diffs = {c: (skinds[c], dkinds[c]) for c in skinds if skinds[c] != dkinds.get(c)}
    assert not diffs, f"{name}: spark/duck type-kind mismatch {diffs}"


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, sf_smoke, name):
    sdf = QUERIES[name](spark, sf_smoke)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    con = _duck(sf_smoke)
    rel = con.sql(ORACLES[name])
    dcols = list(rel.columns)
    dtypes = [str(t) for t in rel.types]
    drows = rel.fetchall()

    assert sorted(scols) == sorted(dcols), f"{name}: column mismatch {scols} vs {dcols}"
    _assert_type_parity(name, scols, [t for _, t in sdf.dtypes], dcols, dtypes)
    assert len(srows) == len(drows), f"{name}: row count {len(srows)} vs {len(drows)}"

    sset = _rows_to_set(scols, srows)
    dset = _rows_to_set(dcols, drows)
    mismatches = [(a, b) for a, b in zip(sset, dset) if a != b]
    assert not mismatches, f"{name}: first mismatches {mismatches[:5]}"


def test_type_gate_rejects_list_projection():
    """The gate must fail wherever the driver's pandas canonicalizer would:
    a list-typed column in the final projection on either side is an error
    even when names/values agree (inverted_index r10 regression class)."""
    with pytest.raises(AssertionError, match="non-scalar FINAL projection"):
        _assert_type_parity(
            "demo", ["postings"], ["array<bigint>"], ["postings"], ["BIGINT[]"]
        )
    with pytest.raises(AssertionError, match="non-scalar FINAL projection"):
        _assert_type_parity(
            "demo", ["postings"], ["string"], ["postings"], ["BIGINT[]"]
        )
    # strings pass
    _assert_type_parity("demo", ["postings"], ["string"], ["postings"], ["VARCHAR"])


def test_gate_order_rotation():
    """The driver gate hashes QUERIES positions 0-49, so dict order IS the
    rotation. gate_order puts never-green queries first, then GATE_TOUCHED,
    then the stalest last-green round, ties in input order; QUERIES is that
    order over the declared queries, with every touched query in the gate."""
    from mine_database_spark.queries.registry import _DECLARED, GATE_TOUCHED
    from mine_database_spark.queries.rotation import gate_order

    names = ["fresh_b", "old13", "touched16", "new_a", "old14", "untouched16", "old15"]
    hist = {"old13": 13, "touched16": 16, "old14": 14, "untouched16": 16, "old15": 15}
    assert gate_order(names, hist, ("touched16", "fresh_b")) == [
        "fresh_b", "new_a", "touched16", "old13", "old14", "old15", "untouched16",
    ]
    assert gate_order(names, {}, ("touched16",)) == names  # no history: declared order

    order = list(QUERIES)
    assert sorted(order) == sorted(_DECLARED)
    assert set(GATE_TOUCHED) <= set(QUERIES)
    assert set(GATE_TOUCHED) <= set(order[:50]), sorted(set(GATE_TOUCHED) - set(order[:50]))


def test_readme_query_count_in_sync():
    """README's front-door registry line must track len(QUERIES) — it
    drifted 96 vs 101 in round 10; this pins it mechanically."""
    import pathlib
    import re

    readme = (pathlib.Path(__file__).parent.parent / "README.md").read_text()
    m = re.search(r"(\d+) queries \+ (\d+) DuckDB oracles", readme)
    assert m, "README registry line missing"
    assert (int(m.group(1)), int(m.group(2))) == (len(QUERIES), len(ORACLES)), (
        f"README says {m.group(1)}/{m.group(2)} but registry has "
        f"{len(QUERIES)}/{len(ORACLES)} — update README.md"
    )


def test_rows_only_queries_run(spark, sf_smoke):
    for name in set(QUERIES) - set(ORACLES):
        df = QUERIES[name](spark, sf_smoke)
        assert df.count() >= 0, name
