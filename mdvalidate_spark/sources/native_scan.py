"""Native parquet scan: run a vectorized Python kernel over parquet files
read DIRECTLY by the Python workers (pyarrow C++), bypassing the JVM→Arrow
→Python serialization of binary columns.

Why this exists (measured, local[32], 240k images ≈ 2.2 GB of bytes):
  - JVM Arrow transfer of a BinaryType column: ~18 MB/s per core
    (≈0.5 ms/value serialization cost) → the pixel stage ran SLOWER with more
    cores as the driver JVM thrashed.
  - Native pyarrow read in the worker: full C++ scan speed; the pixel suite
    went from ~8k to ~38k images/s and scales with cores.

This is also the correct 100 TB architecture: the unit of work is a parquet
FILE (or row-group), so executors stream their own splits with zero JVM
copies — the same pattern Spark's binaryFile source and petastorm use. Works
with any pyarrow-supported filesystem (local, s3://, hdfs://) since workers
open paths themselves.

Trade-off: no Catalyst pushdown inside the kernel — pass `columns` for
pruning and `row_filter` for residual filtering (applied per batch in
pandas). Fall back to the DataFrame path for non-parquet sources.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession


def parquet_files(df: DataFrame) -> list[str]:
    """Physical parquet files behind a DataFrame ([] if not file-backed)."""
    try:
        files = df.inputFiles()
    except Exception:
        return []
    from urllib.parse import unquote

    out = []
    for f in files:
        if not f.endswith(".parquet"):
            return []
        if f.startswith("file:"):
            # Hadoop URIs are percent-encoded (a space is %20) — pyarrow
            # wants a plain local path
            out.append(unquote(f.removeprefix("file://").removeprefix("file:")))
        elif f.startswith("s3a://"):
            # Hadoop's s3a scheme is pyarrow's s3
            out.append("s3://" + f.removeprefix("s3a://"))
        elif "://" in f:
            out.append(f)  # pyarrow-supported scheme or the gate's
            # try/except falls back to the Arrow path on open failure
        else:
            out.append(unquote(f))
    return out


def common_columns(files: list[str]) -> dict:
    """Columns present in EVERY file (schema-evolution-safe), with their
    arrow types — ``{name: pa.DataType}``. A column the first file has but
    an older file lacks would pass a files[0]-only probe and then KeyError
    in the worker when pyarrow silently omits it from iter_batches; a column
    whose TYPE differs across files keeps the first file's type (callers
    probing types — the pixel gate's integer-pid check — must treat a
    mismatching file as disqualifying, so the entry is dropped instead).
    One footer read per file, driver-side — the same footers the row-group
    pruner reads anyway."""
    import pyarrow.parquet as pq

    if not files:
        return {}
    schema = pq.read_schema(files[0])
    common = dict(zip(schema.names, schema.types))
    for f in files[1:]:
        s = pq.read_schema(f)
        types = dict(zip(s.names, s.types))
        common = {
            n: t for n, t in common.items() if types.get(n) == t
        }
    return common


def footer_meta(path: str, cache: dict | None = None) -> dict:
    """One footer read per file: row-group count, per-row-group row counts,
    and per-row-group (min, max, null_count) statistics of partition_id
    (None when the file lacks the column; (None, None, None) entries when
    stats are absent). null_count matters because the engine normalizes NULL
    pids to the reserved partition -1 — min/max alone would let the pruner
    drop a row group whose only members of partition -1 are NULL-pid rows.
    Driver-side and tiny, memoized in ``cache`` so batched runs pay once."""
    key = ("footer", path)
    if cache is not None and key in cache:
        return cache[key]
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    names = [md.schema.column(i).name for i in range(md.num_columns)]
    rows = [md.row_group(rg).num_rows for rg in range(md.num_row_groups)]
    pid_stats = None
    if "partition_id" in names:
        idx = names.index("partition_id")
        pid_stats = []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                pid_stats.append((None, None, None))
            else:
                nulls = st.null_count if st.has_null_count else None
                pid_stats.append((st.min, st.max, nulls))
    meta = {"rows": rows, "pid_stats": pid_stats}
    if cache is not None:
        cache[key] = meta
    return meta


def row_group_splits(
    files: list[str],
    cache: dict | None = None,
    target_rows: int = 1 << 17,
) -> list[tuple[str, int, int]]:
    """Split files into contiguous row-group ranges [(path, rg_lo, rg_hi)] of
    ≈target_rows each — the same split model Spark's own parquet source uses
    (maxPartitionBytes), so one giant file no longer serializes a stage
    behind a single task. Small row groups coalesce into one split; a file
    always yields at least one split."""
    splits: list[tuple[str, int, int]] = []
    for f in sorted(files):
        rows = footer_meta(f, cache)["rows"]
        if not rows:
            continue
        lo, acc = 0, 0
        for rg, n in enumerate(rows):
            acc += n
            if acc >= target_rows:
                splits.append((f, lo, rg + 1))
                lo, acc = rg + 1, 0
        if lo < len(rows):
            splits.append((f, lo, len(rows)))
    return splits


def binary_views(arr) -> list:
    """Zero-copy per-row memoryviews into an arrow Binary/LargeBinary array's
    data buffer (None for null rows).

    Copy discipline matters here: `to_pandas()` on a binary column
    materializes every payload as a fresh Python bytes object — at 100 TB
    that's the whole table copied once more through DRAM. A memoryview slice
    is ~200 bytes regardless of payload size, and zlib/struct/numpy consume
    buffers directly."""
    import numpy as np
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    odt = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    bufs = arr.buffers()
    offs = np.frombuffer(bufs[1], dtype=odt)[arr.offset : arr.offset + len(arr) + 1]
    data = memoryview(bufs[2]) if bufs[2] is not None else memoryview(b"")
    if arr.null_count:
        valid = arr.is_valid().to_numpy(zero_copy_only=False)
        return [
            data[offs[i] : offs[i + 1]] if valid[i] else None
            for i in range(len(arr))
        ]
    return [data[offs[i] : offs[i + 1]] for i in range(len(arr))]


def native_parquet_map(
    spark: SparkSession,
    files: list[str],
    columns: list[str],
    kernel: Callable[[pd.DataFrame], pd.DataFrame] | None,
    schema: str,
    row_filter: Callable[[pd.DataFrame], pd.DataFrame] | None = None,
    batch_rows: int = 4096,
    arrow_kernel: Callable | None = None,
    arrow_filter: Callable | None = None,
    splits: list[tuple[str, int, int]] | None = None,
    footer_cache: dict | None = None,
) -> DataFrame:
    """Distribute file splits; each task pyarrow-streams its split's row
    groups (bounded memory via iter_batches) and applies `kernel` per batch.

    The work unit is a contiguous ROW-GROUP range, not a whole file: with
    fewer files than cores (or one skewed giant file) file-level units
    serialize the stage behind the largest file. When the caller does not
    pass explicit ``splits``, files are footer-split via row_group_splits
    IF the file count is low enough to under-fill the cluster; with plenty
    of files per core the per-file unit is already balanced and the driver
    skips the footer reads entirely (at 100 TB the file listing is millions
    of entries — O(files) driver footer reads must stay opt-in).
    rg_hi == -1 means "through the end of the file" (no footer read needed).

    Two kernel flavors: `kernel` receives a pandas DataFrame (convenient);
    `arrow_kernel` receives the raw pyarrow RecordBatch (zero-copy — binary
    columns never become Python bytes; see binary_views). `arrow_filter`
    (RecordBatch -> RecordBatch) is the residual filter for that flavor."""
    if splits is None:
        par = spark.sparkContext.defaultParallelism
        if 0 < len(files) < 2 * par:
            splits = row_group_splits(files, footer_cache)
        else:
            splits = [(f, 0, -1) for f in sorted(files)]
    fdf = spark.createDataFrame(
        [(f, lo, hi) for f, lo, hi in splits],
        "path string, rg_lo int, rg_hi int",
    )
    fdf = fdf.repartition(max(len(splits), 1))

    def scan(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow as pa
        import pyarrow.parquet as pq

        # Each task slot runs its own worker process: pyarrow's default
        # thread pool (os.cpu_count() per process!) would put C×C threads on
        # C cores and destroy N→4N scaling. One core per worker — the
        # parallelism axis is the task, not intra-file threads.
        pa.set_cpu_count(1)
        pa.set_io_thread_count(2)
        for pdf in it:
            for path, rg_lo, rg_hi in zip(pdf["path"], pdf["rg_lo"], pdf["rg_hi"]):
                pf = pq.ParquetFile(path)
                n_rg = pf.metadata.num_row_groups
                hi = n_rg if rg_hi < 0 else min(int(rg_hi), n_rg)
                rgs = list(range(int(rg_lo), hi))
                if not rgs:
                    continue
                for rb in pf.iter_batches(
                    batch_size=batch_rows, columns=columns, use_threads=False,
                    row_groups=rgs,
                ):
                    if arrow_kernel is not None:
                        if arrow_filter is not None:
                            rb = arrow_filter(rb)
                        if rb.num_rows:
                            yield arrow_kernel(rb)
                        continue
                    batch = rb.to_pandas(use_threads=False)
                    if row_filter is not None:
                        batch = row_filter(batch)
                    if len(batch):
                        yield kernel(batch)

    return fdf.mapInPandas(scan, schema=schema)
