"""Mergeable column sketches: Spark's native HLL, Count-Min and KLL images for
column profiles, and a register-exposed HyperLogLog for FAIDA.

Column profiles (:func:`sketch_profile`) are ONE ``df.agg``: per column, exact
row and null counts, a DataSketches HLL (``hll_sketch_agg`` over xxhash64), a
Spark Count-Min sketch (``count_min_sketch`` over xxhash64) and, for numeric
columns, a DataSketches KLL (``kll_sketch_agg_double``). All of it is JVM work
in one scan; no Python worker, no Arrow round trip. Each sketch comes back as
its native binary image, which the checkpoint ``SketchStore`` persists and
merges across snapshots (``hll_union_agg``, ``kll_merge_agg_double``,
``CountMinSketch.mergeInPlace``) without rescanning old data.

Why custom, for FAIDA only: Spark's HLL functions never expose registers, so
FAIDA-style register-wise inclusion testing (reference:
faida/inclusion_testing/hll_data.h:28-37 -- "dep subseteq ref iff every
register of dep <= ref's") needs its own :class:`HLL`. Its hashing is done
JVM-side (xxhash64), then ONE mapInPandas pass computes a per-Arrow-batch
partial register file (numpy vectorized, no per-row Python); the driver
max-merges the 2^p-byte partials.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MASK64 = np.uint64(0xFFFFFFFFFFFFFFFF)


# ---------------------------------------------------------------------------
# HyperLogLog
@dataclass
class HLL:
    p: int  # 2^p registers
    registers: np.ndarray  # uint8[2^p]

    @property
    def m(self) -> int:
        return 1 << self.p

    def merge(self, other: "HLL") -> "HLL":
        assert self.p == other.p
        return HLL(self.p, np.maximum(self.registers, other.registers))

    def cardinality(self) -> float:
        """Standard HLL estimator with linear-counting small-range correction."""
        m = self.m
        alpha = 0.7213 / (1 + 1.079 / m) if m >= 128 else {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1 + 1.079 / m))
        inv = np.power(2.0, -self.registers.astype(np.float64))
        e = alpha * m * m / inv.sum()
        zeros = int((self.registers == 0).sum())
        if e <= 2.5 * m and zeros > 0:
            return m * np.log(m / zeros)
        return float(e)

    def register_contains(self, other: "HLL") -> bool:
        """FAIDA inclusion test (hll_data.h:28-37): other subseteq self is
        *plausible* iff every register of other <= self's. A single greater
        register PROVES non-inclusion; all-<= is a high-confidence accept."""
        assert self.p == other.p
        return bool(np.all(other.registers <= self.registers))

    def to_bytes(self) -> bytes:
        return self.registers.tobytes()

    @classmethod
    def from_bytes(cls, b: bytes, p: int) -> "HLL":
        return cls(p, np.frombuffer(b, dtype=np.uint8).copy())

    @classmethod
    def empty(cls, p: int) -> "HLL":
        return cls(p, np.zeros(1 << p, dtype=np.uint8))


def _hll_update(registers: np.ndarray, hashes: np.ndarray, p: int) -> None:
    """Vectorized register update from a batch of 64-bit hashes."""
    h = hashes.astype(np.uint64)
    idx = (h >> np.uint64(64 - p)).astype(np.int64)
    rest = (h << np.uint64(p)) & _MASK64
    # rank = leading zeros of rest + 1 (capped at 64 - p + 1)
    # vectorized leading-zero count via bit_length emulation on uint64
    fl = np.zeros(len(rest), dtype=np.int64)
    nz = rest != 0
    # log2 on float is exact enough for leading-zero on 53-bit mantissa; use
    # a split to stay exact: top 32 bits first, then low 32.
    top = (rest >> np.uint64(32)).astype(np.uint32)
    low = (rest & np.uint64(0xFFFFFFFF)).astype(np.uint32)
    bl_top = np.zeros(len(rest), dtype=np.int64)
    t_nz = top != 0
    bl_top[t_nz] = np.floor(np.log2(top[t_nz].astype(np.float64))).astype(np.int64) + 1
    bl_low = np.zeros(len(rest), dtype=np.int64)
    l_nz = low != 0
    bl_low[l_nz] = np.floor(np.log2(low[l_nz].astype(np.float64))).astype(np.int64) + 1
    bitlen = np.where(t_nz, bl_top + 32, bl_low)
    rank = np.where(nz, 64 - bitlen + 1, 64 - p + 1).astype(np.int64)
    np.maximum.at(registers, idx, np.minimum(rank, 255).astype(np.uint8))


def hll_sketch(df: DataFrame, columns: list[str], p: int = 12) -> HLL:
    """Build an HLL over the distinct tuples of ``columns``.

    xxhash64 JVM-side; one mapInPandas partial per Arrow batch; driver merges the
    <=#batches tiny partials (2^p bytes each).
    """
    hashed = df.select(F.xxhash64(*columns).alias("h"))

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        regs = np.zeros(1 << p, dtype=np.uint8)
        seen = False
        for b in batches:
            if len(b):
                seen = True
                _hll_update(regs, b["h"].to_numpy(dtype=np.int64).view(np.uint64), p)
        if seen:
            yield pd.DataFrame({"regs": [regs.tobytes()]})

    rows = hashed.mapInPandas(partials, "regs binary").collect()
    out = HLL.empty(p)
    for r in rows:
        out = out.merge(HLL.from_bytes(r.regs, p))
    return out


def hll_column_sketches(
    df: DataFrame, columns: list[str] | None = None, p: int = 12
) -> dict[str, HLL]:
    """Per-column HLLs from ONE scan (the FAIDA sketch-build pass,
    faida/hll_data.h: every column's register file fills from the same
    table read).  NULL cells are excluded -- SQL IND semantics; Spark's
    xxhash64(NULL) would otherwise alias all nulls to one shared value.
    Returns {column: HLL}; partials are (#batches x #columns) tiny rows."""
    columns = list(columns or df.columns)
    hashed = df.select(
        *[
            F.when(F.col(c).isNotNull(), F.xxhash64(c)).alias(f"h{i}")
            for i, c in enumerate(columns)
        ]
    )
    k = len(columns)

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        regs = [np.zeros(1 << p, dtype=np.uint8) for _ in range(k)]
        seen = False
        for b in batches:
            if len(b):
                seen = True
                for i in range(k):
                    vals = b[f"h{i}"].dropna().to_numpy(dtype=np.int64)
                    if len(vals):
                        _hll_update(regs[i], vals.view(np.uint64), p)
        if seen:
            yield pd.DataFrame(
                {"i": list(range(k)), "regs": [r.tobytes() for r in regs]}
            )

    rows = hashed.mapInPandas(partials, "i int, regs binary").collect()
    out = {c: HLL.empty(p) for c in columns}
    for r in rows:
        c = columns[r["i"]]
        out[c] = out[c].merge(HLL.from_bytes(r.regs, p))
    return out


def hll_inclusion(
    lhs_df: DataFrame, lhs_cols: list[str], rhs_df: DataFrame, rhs_cols: list[str], p: int = 14
) -> dict:
    """FAIDA-style approximate inclusion: returns register verdict + cardinalities.
    'refuted'=True PROVES lhs not subseteq rhs (some lhs hash absent from rhs).
    NOTE: lhs/rhs column *values* must hash identically => same types/order."""
    l = hll_sketch(lhs_df, lhs_cols, p)
    r = hll_sketch(rhs_df, rhs_cols, p)
    plausible = r.register_contains(l)
    return {
        "plausible": plausible,
        "refuted": not plausible,
        "lhs_cardinality": l.cardinality(),
        "rhs_cardinality": r.cardinality(),
    }


# ---------------------------------------------------------------------------
# Native sketch images: DataSketches HLL/KLL and Spark's CountMinSketch, built
# by Spark aggregates and kept as the bytes those aggregates return

# Count-Min hash seed: images merge only when they share it
_CMS_SEED = 42
# the types a KLL takes: those castable to double. Timestamps cast to epoch
# seconds; date, timestamp_ntz and intervals have no cast to double
_NUMERIC_TYPES = (T.NumericType, T.TimestampType)


def one_row(*cols: Column) -> Row:
    """Evaluate expressions over literal sketch images: one single-row job."""
    return SparkSession.active().range(1).select(*cols).collect()[0]


def _count_min(key: Column, depth: int, width: int) -> Column:
    """``count_min_sketch`` of exactly ``depth`` x ``width`` counters. Spark
    sizes it as width = ceil(2 / eps) and depth = ceil(-log2(1 - confidence));
    asking for half a step less keeps both ceilings exact under rounding."""
    return F.count_min_sketch(
        key,
        F.lit(2.0 / (width - 0.5)),
        F.lit(1.0 - 2.0 ** (0.5 - depth)),
        F.lit(_CMS_SEED),
    )


def _jvm_count_min(image: bytes):
    sc = SparkSession.active().sparkContext
    return sc._jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(image)


def merge_count_min(images: list[bytes]) -> bytes:
    """One Count-Min image from images of equal depth, width and seed
    (``CountMinSketch.mergeInPlace``: counters add)."""
    acc = _jvm_count_min(images[0])
    for image in images[1:]:
        acc.mergeInPlace(_jvm_count_min(image))
    return bytes(acc.toByteArray())


@dataclass(frozen=True)
class HllImage:
    """A DataSketches HLL image (``hll_sketch_agg``/``hll_union_agg``) and
    the distinct estimate the building aggregation read from it."""

    image: bytes
    p: int
    estimate: float

    def to_bytes(self) -> bytes:
        return self.image


@dataclass(frozen=True)
class CmsImage:
    """A Spark ``CountMinSketch`` image (``count_min_sketch``) over xxhash64
    keys, and the number of keys it counted."""

    image: bytes
    depth: int
    width: int
    n: int

    def estimate_hashes(self, hashes) -> list[int]:
        """Point-estimate counts (upper bounds) for xxhash64 values."""
        cms = _jvm_count_min(self.image)
        return [int(cms.estimateCount(int(h))) for h in hashes]

    def to_bytes(self) -> bytes:
        return self.image


@dataclass(frozen=True)
class KllImage:
    """A DataSketches KLL doubles image (``kll_sketch_agg_double``) and its
    item count. Rank error is O(1/k); images merge across snapshots."""

    image: bytes
    n: int

    @classmethod
    def from_bytes(cls, image: bytes) -> "KllImage":
        return cls(image, int(one_row(F.kll_sketch_get_n_double(F.lit(image)))[0]))

    def quantiles(self, qs: list[float]) -> list[float]:
        if not self.n:
            return [float("nan")] * len(qs)
        ranks = F.lit([float(q) for q in qs])
        return list(one_row(F.kll_sketch_get_quantile_double(F.lit(self.image), ranks))[0])

    def to_bytes(self) -> bytes:
        return self.image


def cms_sketch(df: DataFrame, columns: list[str], depth: int = 5, width: int = 8192) -> CmsImage:
    """Count-Min over the tuple frequencies of ``columns``: one aggregation."""
    r = df.agg(
        _count_min(F.xxhash64(*columns), depth, width).alias("cms"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    return CmsImage(bytes(r.cms), depth, width, int(r.n))


def kll_sketch(df: DataFrame, column: str, k: int = 200) -> KllImage:
    """KLL over a numeric column (NULL and NaN skipped): one aggregation. The
    image can be stored and merged with later snapshots' sketches."""
    kll = F.kll_sketch_agg_double(F.col(column).cast("double"), k)
    r = df.agg(kll.alias("kll"), F.kll_sketch_get_n_double(kll).alias("n")).collect()[0]
    return KllImage(bytes(r.kll), int(r.n))


# ---------------------------------------------------------------------------
# one-pass multi-column sketch profile


@dataclass
class ColumnSketches:
    """All three mergeable sketches for one column, plus exact null/row
    counts, as produced by :func:`sketch_profile`. The images can be
    persisted in a ``SketchStore`` and merged with later snapshots."""

    column: str
    hll: HllImage
    cms: CmsImage
    kll: "KllImage | None"
    n: int
    n_null: int

    def distinct_est(self) -> float:
        return self.hll.estimate

    def quantiles(self, qs: list[float]) -> "list[float] | None":
        return self.kll.quantiles(qs) if self.kll is not None else None

    def heavy_hitter_counts(self, spark, values: list) -> dict:
        """CMS point estimates for candidate values. The CMS is keyed by JVM
        xxhash64, so candidates are hashed by one tiny Spark job (len(values)
        rows) -- never a Python re-implementation of the hash."""
        rows = spark.createDataFrame(
            [(v,) for v in values], f"v {'string' if values and isinstance(values[0], str) else 'bigint'}"
        ).select(F.xxhash64("v").alias("h")).collect()
        est = self.cms.estimate_hashes([r.h for r in rows])
        return dict(zip(values, est))


def _profile_aggregate(
    df: DataFrame,
    columns: list[str],
    p: int,
    kll_k: int,
    cms_depth: int,
    cms_width: int,
) -> DataFrame:
    """The one aggregation behind :func:`sketch_profile`: a single row with
    ``n`` and, for column i, ``n_null{i}``, ``hll{i}``, ``est{i}``,
    ``cms{i}`` and, if numeric, ``kll{i}`` and ``kll_n{i}``. NULL cells are
    counted and skipped by every sketch."""
    aggs = [F.count(F.lit(1)).alias("n")]
    for i, c in enumerate(columns):
        col = F.col(c)
        # xxhash64(NULL) is the seed, not NULL: mask it so the sketches skip it
        key = F.when(col.isNotNull(), F.xxhash64(col))
        hll = F.hll_sketch_agg(key, p)
        aggs += [
            F.count_if(col.isNull()).alias(f"n_null{i}"),
            hll.alias(f"hll{i}"),
            F.hll_sketch_estimate(hll).alias(f"est{i}"),
            _count_min(key, cms_depth, cms_width).alias(f"cms{i}"),
        ]
        if isinstance(df.schema[c].dataType, _NUMERIC_TYPES):
            kll = F.kll_sketch_agg_double(col.cast("double"), kll_k)
            aggs += [kll.alias(f"kll{i}"), F.kll_sketch_get_n_double(kll).alias(f"kll_n{i}")]
    return df.agg(*aggs)


def sketch_profile(
    df: DataFrame,
    columns: list[str],
    p: int = 12,
    kll_k: int = 200,
    cms_depth: int = 5,
    cms_width: int = 8192,
) -> dict[str, ColumnSketches]:
    """HLL + CMS + KLL for EVERY requested column in ONE scan and one JVM
    aggregation (:func:`_profile_aggregate`); the driver receives one row.

    Numeric columns (castable to double) get a KLL; the KLL of a non-numeric
    column, or of a column with no non-NULL value, is None."""
    r = _profile_aggregate(df, columns, p, kll_k, cms_depth, cms_width).collect()[0].asDict()
    n = int(r["n"])
    out = {}
    for i, c in enumerate(columns):
        n_null = int(r[f"n_null{i}"])
        kll_n = int(r.get(f"kll_n{i}") or 0)
        out[c] = ColumnSketches(
            column=c,
            hll=HllImage(bytes(r[f"hll{i}"]), p, float(r[f"est{i}"])),
            cms=CmsImage(bytes(r[f"cms{i}"]), cms_depth, cms_width, n - n_null),
            kll=KllImage(bytes(r[f"kll{i}"]), kll_n) if kll_n else None,
            n=n,
            n_null=n_null,
        )
    return out
