"""Vector expressions over array<float>/array<double> embedding columns.

Used by the similarity-search and embedding-dedup operators. All math is
done in DOUBLE via native higher-order functions (zip_with/aggregate) so
it runs JVM-side inside codegen; the DuckDB oracle reproduces it with
list_dot_product / list_cosine_similarity on DOUBLE[].

At scale: brute-force top-k is a broadcast of the (small) query set
against the (huge) corpus — no shuffle of the corpus; the LSH/IVF path
buckets the corpus once (shuffle on bucket id) and probes buckets.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    return vec.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(as_double(a), as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(as_double(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL-safe-ish: 0.0 when either norm is 0."""
    d = dot(a, b)
    na, nb = norm(a), norm(b)
    return F.when((na > 0) & (nb > 0), d / (na * nb)).otherwise(F.lit(0.0))


def random_hyperplane_sign(vec: Column, plane: list[float]) -> Column:
    """Sign bit of vec . plane — one bit of a random-hyperplane LSH
    signature (cosine LSH). ``plane`` is a fixed literal, so this stays
    pure expression; a k-bit signature is k of these concatenated."""
    d = F.aggregate(
        F.zip_with(
            as_double(vec),
            F.array(*[F.lit(float(p)) for p in plane]),
            lambda x, y: x * y,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.when(d >= 0, F.lit(1)).otherwise(F.lit(0))
