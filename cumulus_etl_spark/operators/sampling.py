"""Sampling operators (SURVEY §2.7 O1-O2).

The reference's reservoir sampler (sample/cli.py:118-137, Algorithm R with
a seedable RNG) is a single-stream algorithm; the distributed equivalent
is a seeded-random total order + limit (exact-N) or per-stratum Bernoulli
``sampleBy`` (approximate, no shuffle). Both deterministic under a fixed
seed + partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def reservoir_sample(df: DataFrame, n: int, seed: int = 42, tiebreak: list[str] | None = None) -> DataFrame:
    """Exact-N uniform sample. rand(seed) gives each row a stable draw;
    TakeOrderedAndProject keeps the global sort from materializing
    (top-N heap per partition, then merge of N·partitions rows)."""
    order: list[Column] = [F.rand(seed).asc()]
    for c in tiebreak or []:
        order.append(F.col(c).asc())
    return df.orderBy(*order).limit(n)


def stratified_sample(df: DataFrame, strata_col: str, fractions: dict, seed: int = 42) -> DataFrame:
    """Per-stratum Bernoulli sampling (sampleBy)."""
    return df.sampleBy(strata_col, fractions=fractions, seed=seed)


def _bucket_hash(key_col: str, salt: str) -> Column:
    """md5(salt || key) as a BIGINT — 15 hex digits (60 bits) so modulus
    math stays in exact integer range; the single definition both hash
    samplers (and their SQL oracle) share."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))), 1, 15),
        16,
        10,
    ).cast("bigint")


def hash_sample(
    df: DataFrame,
    key_col: str,
    fraction: float,
    salt: str = "sample",
    buckets: int = 1_000_000,
) -> DataFrame:
    """Deterministic content-keyed sampling: keep a row iff
    ``md5(salt || key) mod buckets < fraction·buckets``.

    Unlike rand(seed) sampling, the decision is a pure function of the
    KEY — stable across engines (md5 is byte-identical in DuckDB, so
    the driver can hash-check the sample), across re-runs, and across
    table versions (a row never flickers in/out of the sample as the
    corpus grows — the property training-data splits need). No shuffle;
    the filter rides the scan. Note ``int(fraction * buckets)``
    TRUNCATES — the kept share is floor(fraction·buckets)/buckets."""
    return df.filter(_bucket_hash(key_col, salt) % buckets < int(fraction * buckets))


def hash_stratified_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    fractions: dict[str, float],
    salt: str = "sample",
    buckets: int = 1_000_000,
) -> DataFrame:
    """Per-stratum deterministic hash sampling — the oracle-checkable
    counterpart of ``stratified_sample`` (whose engine RNG stream no
    other engine can reproduce). Unlisted strata are dropped, like
    sampleBy."""
    h = _bucket_hash(key_col, salt)
    thresh = F.create_map(
        *[F.lit(x) for kv in fractions.items() for x in (kv[0], int(kv[1] * buckets))]
    )
    t = thresh[F.col(strata_col)]
    return df.filter(t.isNotNull() & ((h % buckets) < t))
