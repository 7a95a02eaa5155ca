"""File-granular incremental validation — the engine's analog of the
reference's streaming stdin mode (reference: validator.rs:101-185 and the
chunked read loop cmd.rs:88-133).

The reference appends bytes to a document, incrementally reparses only the
new tail, and revalidates from a checkpoint; here, data "arrives" as new
files landing in a table directory (the Iceberg-snapshot pattern). Each
``poll()``:
  1. lists current files and diffs them against the checkpoint manifest
     (the read_input tail computation),
  2. runs the per-partition rule stages on ONLY the new files,
  3. appends violations/metrics idempotently.
``finalize()`` is got_eof: the global rules (uniqueness, grouped counts,
stats, drift and the other whole-table kinds, through the same evaluator
table as ValidationRun.finalize) run once over the full table — the EOF
revalidation pass (validator.rs:162-168). ``fast_fail`` aborts polling once
any batch goes red (cmd.rs:119-121). A kind this validator cannot evaluate is
refused at the first poll, never skipped.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

from ..compile import compile_spec
from ..errors import SchemaError
from ..operators import agg_rules, drift as drift_ops, pixel as pixel_ops
from ..operators.ref_rules import ref_violations
from ..operators.row_rules import row_violations, with_partition_id
from ..run import (
    GLOBAL_STAGES, GlobalScope, _METRICS_DDL, _VIOLATIONS_DDL, global_results,
    _union,
)
from ..spec import Spec

# stages poll() evaluates on each new file set, then the ones finalize()
# evaluates over the whole table. Volume is not among them: it needs the
# per-partition row counts of a manifest, which this validator does not keep.
_STAGES = (
    "schema", "row", "ref", "count", "pixel", "stats", "drift",
    *(s for s in GLOBAL_STAGES if s != "volume"),
)


class FileIncrementalValidator:
    def __init__(
        self,
        spark: SparkSession,
        spec: Spec,
        table_dir: str,
        dims: dict[str, DataFrame] | None = None,
        run_id: str = "incremental",
        checkpoint_dir: str | None = None,
    ):
        self.spark = spark
        self.spec = spec
        self.table_dir = table_dir
        self.dims = dims or {}
        self.run_id = run_id
        self.checkpoint_dir = checkpoint_dir
        self._validated_files: set[str] = set()
        self._viols: list[DataFrame] = []
        self._released_upto = 0  # release() high-water mark into _viols
        self._mets: list[DataFrame] = []
        self._red = False
        self._load_state()
        self.program = None  # compiled lazily on first data

    def release(self) -> None:
        """Unpersist the accumulated per-batch violation frames (same
        lifecycle contract as ValidationRun.release): a long-polling
        validator would otherwise pin one cached frame per poll() forever.
        The frames stay in self._viols — finalize()'s report must still
        union every batch (they recompute from the source files lazily) —
        but a high-water mark keeps repeated release() calls from
        re-issuing unpersist RPCs for every historical batch."""
        for frame in self._viols[self._released_upto:]:
            try:
                frame.unpersist()
            except Exception:  # noqa: BLE001 - session may already be gone
                pass
        self._released_upto = len(self._viols)

    # ------------------------------------------------------------ state

    def _state_path(self) -> str | None:
        return (
            os.path.join(self.checkpoint_dir, "files_manifest.json")
            if self.checkpoint_dir
            else None
        )

    def _load_state(self) -> None:
        p = self._state_path()
        if p and os.path.exists(p):
            with open(p) as f:
                doc = json.load(f)
            if doc.get("run_id") == self.run_id:
                self._validated_files = set(doc.get("files", []))

    def _save_state(self) -> None:
        p = self._state_path()
        if not p:
            return
        os.makedirs(self.checkpoint_dir, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=self.checkpoint_dir, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump({"run_id": self.run_id, "files": sorted(self._validated_files)}, f)
        os.replace(tmp, p)

    # ------------------------------------------------------------- poll

    def _list_files(self) -> list[str]:
        out = []
        for root, _, names in os.walk(self.table_dir):
            for n in names:
                if n.endswith(".parquet"):
                    out.append(os.path.join(root, n))
        return sorted(out)

    def pending_files(self) -> list[str]:
        return [f for f in self._list_files() if f not in self._validated_files]

    def poll(self) -> int:
        """Validate newly-arrived files; returns the number of new violation
        rows. No-op (0) when nothing new or fast-fail already tripped."""
        for r in self.spec.rules:
            capture = getattr(r, "capture", False) is True  # composite capture
            if r.stage not in _STAGES or capture:
                raise SchemaError(
                    f"rule {r.id!r}: FileIncrementalValidator cannot evaluate "
                    f"{r.kind} rules{' with capture=True' if capture else ''} "
                    "— validate the table with ValidationRun instead"
                )
        if self._red and self.spec.fast_fail:
            return 0
        new = self.pending_files()
        if not new:
            return 0
        raw = self.spark.read.parquet(*new)
        df = with_partition_id(raw, self.spec)
        if self.program is None:
            self.program = compile_spec(self.spec, df.columns)
        prog = self.program

        viols = []
        mets = []
        # schema drift is checked per poll, against the NEW files' frame: a
        # late-arriving file with a drifted schema is exactly the condition
        # this rule family exists for, and each poll may read a different
        # file set (driver-side metadata compare — no scan, no job)
        if prog.schema_rules:
            from ..operators.schema_rules import schema_violations

            viols.extend(
                schema_violations(df, sr, self.run_id) for sr in prog.schema_rules
            )
        if prog.row_rules:
            viols.append(row_violations(df, prog, self.run_id))
        for rr in prog.ref_rules:
            viols.append(
                ref_violations(df, rr, self.dims[rr.dim_name], self.run_id, self.spec.key_column)
            )
        for cr in prog.count_rules:
            viols.append(agg_rules.count_violations(df, cr, self.run_id))
        for pr in prog.pixel_rules:
            # scan_df = the pre-normalization frame, same contract as
            # ValidationRun: probing the normalized frame would read the
            # engine's own pid rewrite as a recomputed column and pin every
            # poll on the ~5x-slower Arrow path. No gate cache across polls
            # on purpose — each poll reads a DIFFERENT file set, so a
            # memoized file list would go stale.
            checks = pixel_ops.pixel_check_results(
                df, pr, self.spec.key_column, scan_df=raw
            )
            pv, pm = pixel_ops.pixel_outputs(checks, pr, self.run_id)
            viols.append(pv)
            mets.append(pm)

        batch_v = _union(viols, self.spark, _VIOLATIONS_DDL)
        from pyspark.storagelevel import StorageLevel

        batch_v = batch_v.persist(StorageLevel.MEMORY_AND_DISK)
        n = batch_v.count()
        self._viols.append(batch_v)
        self._mets.extend(mets)
        self._validated_files.update(new)
        self._save_state()
        if n > 0:
            self._red = True
        return n

    # ---------------------------------------------------------- finalize

    def finalize(self):
        """EOF pass: global rules over the whole table; returns
        (violations_df, metrics_df)."""
        all_files = self._list_files()
        viols = list(self._viols)
        mets = list(self._mets)
        if all_files and self.program is not None:
            df = with_partition_id(self.spark.read.parquet(*all_files), self.spec)
            prog = self.program
            g_viols, g_mets = global_results(
                GlobalScope(df, self.run_id, self.spec, self.dims),
                [r for s in GLOBAL_STAGES for r in getattr(prog, f"{s}_rules")],
            )
            viols += g_viols
            mets += g_mets
            if prog.stats_rules:
                mets.append(
                    agg_rules.column_stats_metrics(df, prog.stats_rules, self.run_id)
                )
            for dr in prog.drift_rules:
                dv, dm, _n = drift_ops.drift_check(df, dr, self.run_id)
                viols.append(dv)
                mets.append(dm)
        return (
            _union(viols, self.spark, _VIOLATIONS_DDL),
            _union(mets, self.spark, _METRICS_DDL),
        )
