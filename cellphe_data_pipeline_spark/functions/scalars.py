"""Scalar expression helpers (SURVEY §2.8).

All pure Column expressions — they stay inside whole-stage codegen; no
Python executes per row. Each cites the reference behaviour it
re-expresses.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def euclid(x1: Column, y1: Column, x2: Column, y2: Column) -> Column:
    """Euclidean distance (F5 — create_frame_summary_features.py:28-30,35).

    Uses plain multiplication (not pow) so the IEEE result is bit-identical
    across engines — required for oracle hash equality.
    """
    dx = x1 - x2
    dy = y1 - y2
    return F.sqrt(dx * dx + dy * dy)


def round_z(col: Column, scale: int = 6) -> Column:
    """Round to `scale` decimals and normalise IEEE ``-0.0`` to ``+0.0``.

    The driver's correctness gate hashes raw float bits, and the two
    engines disagree on the sign of a rounded tiny-negative value:
    Spark's ``round`` goes through BigDecimal HALF_UP which drops the
    sign (``round(-1e-9, 6) = +0.0``) while DuckDB's ROUND keeps IEEE
    ``-0.0`` — reproduced on a13's per-group OLS slope (r8 driver red:
    one ``+0.0`` vs ``-0.0`` cell in 600). Adding ``+ 0.0`` after the
    round is the IEEE identity everywhere except ``-0.0 + 0.0 = +0.0``
    and is NULL-transparent, so applying it to BOTH engine and oracle
    sides makes the bit-level hash agree without changing any other
    value. Use this (with a matching ``ROUND(...) + 0.0`` in the
    oracle SQL) for every rounded output whose argument can be
    tiny-negative: signed slopes/intercepts, z-scores, skewness,
    descent sums, cosine similarities.
    """
    return F.round(col, scale) + F.lit(0.0)


def safe_ratio(num: Column, den: Column, default: float = 0.0) -> Column:
    """0/0-safe ratio (F7 — create_frame_summary_features.py:40-41:
    D2T = Dis/Trac with 0/0 → 0)."""
    return F.when(den == 0, F.lit(default)).otherwise(num / den)


def natural_sort_key(col: Column) -> Column:
    """Numeric-aware sort key (O2 — natsorted at main.nf:353-355).

    Returns a struct (first-embedded-integer, full-string); ordering by it
    sorts `img_2` before `img_10`. A full natsort tokenises every run of
    digits; the reference's filenames embed a single frame counter, so one
    extracted integer (ties broken by the raw string) reproduces its order.
    """
    num = F.regexp_extract(col, r"(\d+)", 1)
    return F.struct(
        F.when(num == "", F.lit(None)).otherwise(num.cast("long")).alias("n"),
        col.alias("s"),
    )


def opaque_zero() -> Column:
    """A statically-zero NON-deterministic double, ``rand(0) * 0.0``:
    the engine's one Catalyst barrier. Used by
    ``operators.dedup._verify_set_pairs`` (the set-overlap count is
    evaluated once) and ``operators.text.gopher_rules(gate_mask=...)``
    (the rule gate stays above the tokenise/count projections).

    It rests on two Catalyst facts, both on the Spark-upgrade checklist
    in SCALE.md:

    1. A project field that is non-deterministic is a barrier.
       CollapseProject does not inline a non-deterministic alias into
       its consumers, and PushPredicateThroughNonJoin pushes a filter
       through a project only when every field is deterministic. So
       the field is computed once, in its own projection, and filters
       above it stay above it. A non-deterministic FILTER condition is
       not enough: Spark 4 pushes it through deterministic projects.
    2. The term is not folded away. ConstantFolding keeps ``rand``
       because it is non-deterministic, and the multiply by 0.0 hides
       it from the rand-range simplification that would fold a bare
       ``rand(0) > 1.0`` to false.

    Values are unchanged: added to an integral field (cast to its
    type) the term is exactly 0, and ``opaque_zero() > 1.0`` OR-ed onto
    a predicate is always false."""
    return F.rand(0) * F.lit(0.0)


def portable_hash64(col: Column, seed: str = "") -> Column:
    """Deterministic 32-bit-range hash computable identically in Spark and
    ANSI SQL engines: first 8 hex digits of md5, parsed base-16.

    Spark's builtin ``hash``/``xxhash64`` have engine-specific seeds, so
    they can't be oracle-checked; md5 is standard everywhere. Used for
    MinHash signatures and fingerprints (dedup module). At 100 TB scale
    md5-per-shingle is still JVM-side codegen (no Python), ~100ns/row.
    """
    return F.conv(F.substring(F.md5(F.concat(F.lit(seed), col)), 1, 8), 16, 10).cast("bigint")
