"""Deterministic synthetic `images` table (FIXTURES.md §1).

Generated *distributed* — ``spark.range(n)`` plus column expressions, with the
binary payload produced by a vectorized pandas UDF — so the same generator
scales from 1k-row golden fixtures to the multi-million-row bench variant
(bytes omitted) without ever materializing data on the driver. Shape is the
exact `input_hint` schema: (image_id string, bytes binary, w int, h int,
fmt string, caption string, phash long) plus `source_id` for the
referential-integrity fixture and `pattern_id` metadata.

Violation-injection contract (golden expectations derive from these, see
``expected_violation_counts``):
  - i % 500 == 499  → image_id duplicates row i-1          (uniqueness)
  - i % 400 == 399  → fmt = 'bmp'                          (domain)
  - i % 250 == 249  → w ∈ {0, 20000}                       (range)
  - i % 200 == 199  → caption breaks ^A photo number ...$  (regex)
  - i % 1000 == 997 → caption NULL                         (not-null)
  - i % 120 >= 100  → source_id orphaned vs dim_source     (referential)
  - partition P-1   → w doubled                            (drift)
phash is hot-keyed by design (90% of rows share n_patterns base patterns,
10% unique tail) to exercise skew salting.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import codec

NOUNS = (
    "cat", "dog", "tree", "river", "mountain", "car", "house", "bird",
    "flower", "bridge", "boat", "cloud", "road", "field", "lamp", "door",
)

SEED = 42
W_CYCLE = (32, 64, 128, 256)
# bench variant: small frames → cheap bytes, same code paths
W_CYCLE_SMALL = (32, 48, 64, 96)


def synthetic_images(
    spark: SparkSession,
    rows: int,
    with_bytes: bool = True,
    n_patterns: int = 8,
    n_partitions: int = 8,
    num_tasks: int | None = None,
    w_cycle: tuple[int, ...] = W_CYCLE,
) -> DataFrame:
    """Build the deterministic images table as a lazy DataFrame."""
    num_tasks = num_tasks or max(spark.sparkContext.defaultParallelism, n_partitions)
    df = spark.range(0, rows, 1, num_tasks).withColumnRenamed("id", "i")
    i = F.col("i")

    # hot-keyed base pattern: 90% share n_patterns values, 10% unique tail
    pattern_id = F.when(i % 10 == 9, F.lit(n_patterns) + i).otherwise(
        i % n_patterns
    )
    base_id = F.format_string("img%010d", i)
    dup_id = F.format_string("img%010d", i - 1)
    image_id = F.when(i % 500 == 499, dup_id).otherwise(base_id)

    df = df.withColumn("pattern_id", pattern_id).withColumn("image_id", image_id)
    # stable engine partition — same formula the validator uses
    df = df.withColumn(
        "partition_id",
        F.pmod(F.xxhash64(F.col("image_id")), F.lit(n_partitions)).cast("int"),
    )

    cyc = F.array(*[F.lit(v) for v in w_cycle])
    w_base = F.element_at(cyc, (i % 4 + 1).cast("int"))
    h_cycle = F.element_at(cyc, ((i + 1) % 4 + 1).cast("int"))
    # drift: probe partition gets doubled widths; range injection applied last
    # so injected values are exact regardless of drift
    w_drift = F.when(F.col("partition_id") == n_partitions - 1, w_base * 2).otherwise(
        w_base
    )
    w_final = F.when(
        i % 250 == 249, F.when((i / 250).cast("long") % 2 == 0, 0).otherwise(20000)
    ).otherwise(w_drift)
    df = df.withColumn("w", w_final.cast("int")).withColumn("h", h_cycle.cast("int"))

    fmt_cycle = F.element_at(
        F.array(F.lit("jpeg"), F.lit("png"), F.lit("webp")), (i % 3 + 1).cast("int")
    )
    df = df.withColumn("fmt", F.when(i % 400 == 399, "bmp").otherwise(fmt_cycle))

    noun = F.element_at(
        F.array(*[F.lit(n) for n in NOUNS]),
        (F.pmod(F.xxhash64(i + SEED), F.lit(len(NOUNS))) + 1).cast("int"),
    )
    caption_ok = F.concat(F.lit("A photo number "), i.cast("string"), F.lit(" of "), noun)
    caption = (
        F.when(i % 1000 == 997, F.lit(None).cast("string"))
        .when(i % 200 == 199, F.concat(F.lit("broken caption "), i.cast("string")))
        .otherwise(caption_ok)
    )
    df = df.withColumn("caption", caption)

    df = df.withColumn("source_id", F.format_string("src%04d", (i % 120).cast("int")))

    @F.pandas_udf(T.LongType())
    def phash_udf(pids: pd.Series) -> pd.Series:
        return pids.map(lambda p: codec.phash_of_pattern(int(p)))

    df = df.withColumn("phash", phash_udf(F.col("pattern_id")))

    if with_bytes:
        @F.pandas_udf(T.BinaryType())
        def encode_udf(
            pid: pd.Series, w: pd.Series, h: pd.Series, fmt: pd.Series
        ) -> pd.Series:
            out = []
            for p, wv, hv, fv in zip(pid, w, h, fmt):
                # out-of-range dims encode tiny (the dim-check flags the row);
                # unknown fmt encodes as png (the fmt-check flags the row)
                ew = int(wv) if 1 <= wv <= 10000 else 32
                eh = int(hv) if 1 <= hv <= 10000 else 32
                ew, eh = min(ew, 1024), min(eh, 1024)
                efmt = fv if fv in codec.FORMATS else "png"
                arr = codec.base_image(int(p), ew, eh)
                out.append(codec.encode(arr, efmt))
            return pd.Series(out)

        df = df.withColumn(
            "bytes", encode_udf(F.col("pattern_id"), F.col("w"), F.col("h"), F.col("fmt"))
        )
    else:
        df = df.withColumn("bytes", F.lit(None).cast("binary"))

    return df.select(
        "image_id", "bytes", "w", "h", "fmt", "caption", "phash",
        "source_id", "pattern_id", "partition_id", "i",
    )


def dim_source(spark: SparkSession, n: int = 100) -> DataFrame:
    return spark.range(n).select(
        F.format_string("src%04d", F.col("id").cast("int")).alias("source_id"),
        F.format_string("source-%04d", F.col("id").cast("int")).alias("source_name"),
    )


def expected_violation_counts(rows: int) -> dict[str, int]:
    """Golden expectations implied by the injection contract."""
    orphans = 20 * (rows // 120) + max(0, rows % 120 - 100)
    return {
        "duplicate_keys": rows // 500,
        "fmt_domain": rows // 400,
        "w_range": rows // 250,
        "caption_regex": rows // 200,
        "caption_null": rows // 1000 + (1 if rows % 1000 > 997 else 0),
        "orphan_rows": orphans,
    }


def full_images_spec(
    fast_fail: bool = False, with_pixel: bool = True, n_partitions: int = 8
):
    """The canonical all-family Spec for the images table."""
    from ..spec import (
        ColumnStatsRule,
        DomainRule,
        DriftRule,
        NotNullRule,
        PixelRule,
        RangeRule,
        RefIntegrityRule,
        RegexRule,
        Spec,
        UniqueRule,
    )

    rules = [
        NotNullRule("caption_not_null", column="caption"),
        RegexRule("caption_regex", column="caption", pattern=r"A photo number \d+ of \w+"),
        RangeRule("w_range", column="w", min=1, max=10000),
        RangeRule("h_range", column="h", min=1, max=10000),
        DomainRule("fmt_domain", column="fmt", values=("jpeg", "png", "webp")),
        UniqueRule("unique_image_id", columns=("image_id",)),
        RefIntegrityRule(
            "src_ref", column="source_id", dim_name="dim_source", dim_column="source_id"
        ),
        ColumnStatsRule("stats_w", column="w"),
        ColumnStatsRule("stats_caption", column="caption"),
        DriftRule(
            "w_drift", column="w", group_column="partition_id",
            group_value=str(n_partitions - 1), method="psi", threshold=0.2,
        ),
    ]
    if with_pixel:
        rules.append(PixelRule("pixel"))
    return Spec(
        rules=tuple(rules),
        key_column="image_id",
        n_partitions=n_partitions,
        fast_fail=fast_fail,
    )


def synthetic_quality_images(
    spark: SparkSession,
    rows: int,
    n_partitions: int = 8,
    n_patterns: int = 8,
    size: int = 48,
) -> DataFrame:
    """Deterministic image fixture for the pixel-QUALITY family (blank /
    saturated / undecodable detection + brightness drift) — separate from
    ``synthetic_images`` so the canonical golden violation counts stay
    untouched. Injection contract (disjoint by check order):

      i % 23 == 11                 → undecodable payload (wrong magic)
      else i % 13 == 5             → solid near-black (level 3): blank
      else i % 17 == 7             → solid white (level 255): blank
      else i % 19 == 3             → binary 0/255 noise: saturated, NOT blank
      else i % 29 == 13            → grayscale noise stored as RGB
                                     (channel_diff 0; flagged only when a
                                     grayscale_floor is opted into)
      else partition == P-1        → noise >> 1 + 128: bright-shifted
                                     (brightness ~191 vs ~127) — drift probe
      else                         → full-range noise (clean)

    Planted rows always encode png (lossless) so 0/255 levels survive the
    codec exactly; clean rows cycle fmts. The w/h columns always agree with
    the container (header integrity is synthetic_images' fixture's job).
    Everything derives from (i, pattern_id) — byte-identical across runs,
    partitions and engines."""
    num_tasks = max(spark.sparkContext.defaultParallelism, n_partitions)
    df = spark.range(0, rows, 1, num_tasks).withColumnRenamed("id", "i")
    i = F.col("i")
    df = (
        df.withColumn("image_id", F.format_string("qimg%09d", i))
        .withColumn("pattern_id", i % n_patterns)
        .withColumn(
            "partition_id",
            F.pmod(F.xxhash64(F.col("image_id")), F.lit(n_partitions)).cast("int"),
        )
        .withColumn("w", F.lit(size))
        .withColumn("h", F.lit(size))
    )
    fmt_cycle = F.element_at(
        F.array(F.lit("jpeg"), F.lit("png"), F.lit("webp")), (i % 3 + 1).cast("int")
    )
    planted = (
        (i % 23 == 11) | (i % 13 == 5) | (i % 17 == 7) | (i % 19 == 3)
        | (i % 29 == 13)
    )
    df = df.withColumn("fmt", F.when(planted, F.lit("png")).otherwise(fmt_cycle))
    last = n_partitions - 1

    @F.pandas_udf(T.BinaryType())
    def encode_udf(
        ii: pd.Series, pid: pd.Series, fmt: pd.Series, part: pd.Series
    ) -> pd.Series:
        import numpy as np

        out = []
        for iv, pv, fv, gv in zip(ii, pid, fmt, part):
            iv = int(iv)
            if iv % 23 == 11:
                out.append(b"JUNK" + iv.to_bytes(8, "little") * 4)
                continue
            if iv % 13 == 5:
                arr = np.full((size, size, 3), 3, dtype=np.uint8)
            elif iv % 17 == 7:
                arr = np.full((size, size, 3), 255, dtype=np.uint8)
            elif iv % 19 == 3:
                rng = np.random.default_rng(iv)
                arr = (
                    rng.integers(0, 2, size=(size, size, 3), dtype=np.uint8) * 255
                )
            elif iv % 29 == 13:
                rng = np.random.default_rng(iv)
                arr = rng.integers(
                    0, 256, size=(size, size, 1), dtype=np.uint8
                ).repeat(3, axis=2)
            else:
                arr = codec.base_image(int(pv), size, size).copy()
                if int(gv) == last:
                    arr = (arr >> 1) + 128  # brightness shift, clip-free
            out.append(codec.encode(arr, str(fv)))
        return pd.Series(out)

    df = df.withColumn(
        "bytes",
        encode_udf(i, F.col("pattern_id"), F.col("fmt"), F.col("partition_id")),
    )
    return df.select(
        "image_id", "bytes", "w", "h", "fmt", "partition_id", "pattern_id", "i"
    )
