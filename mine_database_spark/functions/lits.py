"""Plan-build-fast numeric array literals.

`F.lit(<python list>)` converts ELEMENT BY ELEMENT over py4j: an
8000-element bigint list costs ~6 s of driver time per call (measured,
r15), all before a single Spark job runs — for model-literal queries
(lang-ID log-prob matrices, LSH plane weights, PQ codebooks) that
plan-build cost dominates the whole query at bench scale and repeats for
every fresh DataFrame. Routing the same array through the SQL PARSER
(`F.expr("array(1L,2L,...)")`) builds the identical Literal in ~7 ms —
the parser tokenizes one string instead of round-tripping every element.

The resulting expression is a fold-to-Literal `array(...)` call: after
ConstantFolding it is EXACTLY the same single Literal F.lit would have
produced (safe in codegen, safe inside HOF lambdas), so call sites trade
nothing but the build path.

Only numeric element types are offered — ints and floats render
losslessly as SQL literals (`repr(float)` is shortest-round-trip, and
Spark's parser reads it back to the same IEEE double); strings would
need escaping and have no giant-literal call sites today.

HAZARD (measured r15, Spark 4.1): before ConstantFolding the parser
array is a CreateArray, and SimplifyExtractValueOps rewrites
element_at(CreateArray(...), ordinal) into a CaseKeyWhen — whose NULL
key falls through to the LAST branch, so a NULL ordinal returns the
last element instead of NULL (a py4j Literal array returns NULL). Any
call site probing one of these arrays with a nullable ordinal must
guard it (when(idx.isNotNull(), element_at(...))) — see
quality.CharBigramLangID._transform_agg.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column
from pyspark.sql import functions as F


def bigint_array_lit(vals: Iterable[int]) -> Column:
    """array<bigint> literal via the parser (see module docstring)."""
    body = ",".join(f"{int(v)}L" for v in vals)
    if not body:
        return F.expr("CAST(array() AS array<bigint>)")
    return F.expr(f"array({body})")


def double_array_lit(vals: Iterable[float]) -> Column:
    """array<double> literal via the parser; repr() round-trips IEEE
    doubles exactly (inf/nan intentionally unsupported — no call site
    produces them, and the loud failure beats a silent 'Infinity' parse
    surprise)."""
    parts = []
    for v in vals:
        f = float(v)
        if f != f or f in (float("inf"), float("-inf")):
            raise ValueError(f"non-finite literal {v!r} not supported")
        parts.append(f"{f!r}D")
    if not parts:
        return F.expr("CAST(array() AS array<double>)")
    return F.expr(f"array({','.join(parts)})")
