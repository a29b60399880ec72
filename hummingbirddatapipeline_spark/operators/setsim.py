"""Set-similarity kernels shared across operator families.

Two rules that the LSH, phash and market-basket operators all need,
each written once:

- :func:`band_explode` — the LSH band explode: one skinny
  ``(id, band, bucket)`` row per (row, band). Callers pass the
  per-band bucket keys as SQL text (MinHash slice hashes, raw portable
  slices, sign-bit masks, phash bit fields), so the helper never
  branches on its caller.
- :func:`sorted_pairs` — all ``i < j`` pairs of a sorted array as one
  array-of-structs Column: the bounded within-bucket (within-basket)
  pair generator that replaces a bucket self-join.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def band_explode(
    df: DataFrame,
    id_col: str,
    keys: Sequence[str],
    id_alias: str | None = None,
) -> DataFrame:
    """``(id, band, bucket)`` rows: band ``b`` of each row gets the SQL
    expression ``keys[b]`` as its bucket key. One generator over a
    literal struct array, so the explode stays inside whole-stage
    codegen and only the id rides it (wide payloads attach after the
    bucket join). The array goes to the JVM as one SQL expression, not
    one call per Column node. ``id_alias`` renames the id column on the
    way out."""
    out = id_alias or id_col
    structs = ", ".join(
        f"struct({b} AS band, {key} AS bucket)" for b, key in enumerate(keys)
    )
    return df.selectExpr(
        f"`{id_col}` AS `{out}`" if id_alias else f"`{id_col}`",
        f"explode(array({structs})) AS bb",
    ).select(out, "bb.band", "bb.bucket")


def sorted_pairs(arr: str, a: str = "id_a", b: str = "id_b") -> Column:
    """Every ``(arr[i], arr[j])`` with ``i < j`` as ``array<struct<a, b>>``
    — C(n, 2) structs for an n-element array, none for n < 2. On a
    sorted distinct array each struct has ``a < b``. Explode it for
    pair rows; the work is bounded by the caller's array cap."""
    return F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(F.col(arr), i + 2, F.greatest(F.size(arr) - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias(a), y.alias(b)),
            ),
        )
    )
