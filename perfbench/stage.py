"""Stage the benchmark's generated inputs, once per (workload, size, seed).

Run as a child process before the measured process starts, so generation is
outside every timing, including ``setup_s``:

    python3 perfbench/stage.py --workload suite_oneshot --rows 150000 --seed 3

Layout under ``perfbench/.work/stage/``:

* ``<key>/base`` -- the seed-independent table, written once. ``<key>`` is a
  hash of the generator parameters plus the generator's source, so a change
  to either re-stages instead of reusing stale data.
* ``<key>/seed-<n>`` -- the seed's copy: the same rows in a seeded physical
  order across files (``resume_waves``: hive-partitioned by ``partition_id``,
  plus a seeded wave order).

Each directory holds ``_staged.json`` (file list, sizes, row counts); reuse
re-verifies both against the files on disk and re-stages on any mismatch.
The last stdout line is the seed directory's ``_staged.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
# seed copies kept per key (older ones are evicted): enough for ten seeds
# measured twice to reuse their staging
KEEP_SEEDS = 12
N_FILES = 16  # files per seed copy (non-partitioned layouts)

# generator sources that define the staged bytes
_GEN_SOURCES = (
    "mdvalidate_spark/sources/synthetic.py",
    "mdvalidate_spark/functions/codec.py",
    "perfbench/corpus.py",
    "perfbench/stage.py",
)


def _source_digest() -> str:
    h = hashlib.sha256()
    for rel in _GEN_SOURCES:
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def params_for(workload: str, rows: int) -> dict:
    """Generator parameters; everything that changes the staged bytes."""
    if workload == "corpus_queries":
        return {"kind": "corpus", "scale": rows / 600_000}
    return {
        "kind": "images",
        "rows": rows,
        "with_bytes": workload == "pixel_suite",
        "w_cycle": "small" if workload == "pixel_suite" else "default",
        "n_partitions": 16 if workload == "resume_waves" else 64,
        "hive_partitioned": workload == "resume_waves",
    }


def stage_key(params: dict) -> str:
    blob = json.dumps(
        {"params": params, "src": _source_digest()},
        sort_keys=True,
    )
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def _parquet_files(d: str) -> list[str]:
    out = []
    for dirpath, dirnames, files in os.walk(d):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".parquet"):
                out.append(os.path.relpath(os.path.join(dirpath, f), d))
    return out


def _read_table(d: str) -> pa.Table:
    return pa.concat_tables(
        pq.read_table(os.path.join(d, f)) for f in _parquet_files(d)
    )


def _describe(d: str) -> dict:
    files = []
    for rel in _parquet_files(d):
        p = os.path.join(d, rel)
        files.append({
            "name": rel,
            "bytes": os.path.getsize(p),
            "rows": pq.read_metadata(p).num_rows,
        })
    return {
        "files": files,
        "rows": sum(f["rows"] for f in files),
        "bytes": sum(f["bytes"] for f in files),
    }


def _load_verified(d: str) -> dict | None:
    """The directory's ``_staged.json`` if its file list and row counts hold."""
    try:
        with open(os.path.join(d, "_staged.json")) as f:
            meta = json.load(f)
    except (OSError, ValueError):
        return None
    try:
        now = _describe(d)
    except (OSError, pa.ArrowInvalid):
        return None
    if now["files"] != meta.get("files") or now["rows"] != meta.get("rows"):
        return None
    return meta


def _write_meta(d: str, meta: dict) -> dict:
    meta = {**meta, **_describe(d)}
    with open(os.path.join(d, "_staged.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    return meta


def _gen_images_base(d: str, params: dict) -> None:
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = ROOT
    from mdvalidate_spark.session import get_spark
    from mdvalidate_spark.sources.synthetic import (
        W_CYCLE,
        W_CYCLE_SMALL,
        synthetic_images,
    )

    ncpu = len(os.sched_getaffinity(0))
    spark = get_spark(app_name="perfbench-stage", master=f"local[{ncpu}]")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        synthetic_images(
            spark,
            params["rows"],
            with_bytes=params["with_bytes"],
            n_partitions=params["n_partitions"],
            w_cycle=W_CYCLE_SMALL if params["w_cycle"] == "small" else W_CYCLE,
        ).write.mode("overwrite").parquet(d)
    finally:
        spark.stop()


def _images_reference(table: pa.Table) -> dict:
    """Exact values of each stats rule's metrics, keyed by rule id: what the
    engine's stats metrics are checked against."""
    cap = table.column("caption")
    w = table.column("w")
    cap_valid = pc.drop_null(cap)
    return {
        "stats_w": {
            "count": table.num_rows,
            "null_rate": w.null_count / table.num_rows,
            "min": str(pc.min(w).as_py()),
            "max": str(pc.max(w).as_py()),
            "distinct": len(pc.unique(pc.drop_null(w))),
        },
        "stats_caption": {
            "count": table.num_rows,
            "null_rate": cap.null_count / table.num_rows,
            "min": min(cap_valid.to_pylist()),
            "max": max(cap_valid.to_pylist()),
            "distinct": len(pc.unique(cap_valid)),
        },
    }


def _stage_seed(base: str, out: str, params: dict, seed: int) -> dict:
    table = _read_table(base)
    rng = np.random.default_rng(seed)
    table = table.take(pa.array(rng.permutation(table.num_rows)))
    os.makedirs(out, exist_ok=True)
    extra: dict = {}
    if params["hive_partitioned"]:
        pids = table.column("partition_id")
        order = [int(p) for p in rng.permutation(params["n_partitions"])]
        for p in range(params["n_partitions"]):
            part = table.filter(pc.equal(pids, p)).drop_columns(["partition_id"])
            sub = os.path.join(out, f"partition_id={p}")
            os.makedirs(sub, exist_ok=True)
            pq.write_table(part, os.path.join(sub, "part-0.parquet"))
        extra["wave_order"] = order
    else:
        step = -(-table.num_rows // N_FILES)
        for k in range(N_FILES):
            pq.write_table(
                table.slice(k * step, step),
                os.path.join(out, f"part-{k:03d}.parquet"),
                row_group_size=step,
            )
    return extra


def _evict_old_seeds(key_dir: str, keep: str) -> None:
    seeds = [
        os.path.join(key_dir, d)
        for d in os.listdir(key_dir)
        if d.startswith("seed-") and os.path.join(key_dir, d) != keep
    ]
    seeds.sort(key=os.path.getmtime, reverse=True)
    for d in seeds[KEEP_SEEDS - 1:]:
        shutil.rmtree(d, ignore_errors=True)


def stage(workload: str, rows: int, seed: int) -> dict:
    params = params_for(workload, rows)
    key = stage_key(params)
    key_dir = os.path.join(WORK, "stage", key)
    base = os.path.join(key_dir, "base")
    meta_base = _load_verified(base)
    if meta_base is None:
        shutil.rmtree(base, ignore_errors=True)
        if params["kind"] == "corpus":
            from corpus import write_corpus

            table_rows = write_corpus(base, params["scale"])
            meta_base = _write_meta(base, {"params": params, "tables": table_rows})
        else:
            _gen_images_base(base, params)
            ref = _images_reference(_read_table(base))
            meta_base = _write_meta(base, {"params": params, "reference": ref})
    if params["kind"] == "corpus":
        # the corpus is read-only and seed-independent: the seed only orders
        # the queries, so every seed reads the base directory
        return {**meta_base, "key": key, "dir": base, "seed": seed}
    out = os.path.join(key_dir, f"seed-{seed}")
    meta = _load_verified(out)
    if meta is None:
        shutil.rmtree(out, ignore_errors=True)
        extra = _stage_seed(base, out, params, seed)
        meta = _write_meta(out, {
            "params": params,
            "reference": meta_base["reference"],
            "seed": seed,
            **extra,
        })
    os.utime(out)
    _evict_old_seeds(key_dir, out)
    return {**meta, "key": key, "dir": out}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    meta = stage(a.workload, a.rows, a.seed)
    print(json.dumps(meta, sort_keys=True))


if __name__ == "__main__":
    main()
