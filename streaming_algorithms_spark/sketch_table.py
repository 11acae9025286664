"""Incrementally-maintained sketch tables: append -> compact -> query.

The north-rule workload is sketch answers over an ever-GROWING
Common-Crawl-style corpus (10^12 documents, new crawl segments landing
continuously).  A one-shot ``sketch_aggregate`` job re-scans the whole
corpus per refresh — 100 TB of I/O to fold in a 100 GB daily increment.
The production operating mode is INCREMENTAL MAINTENANCE, which the
mergeability contract (SURVEY §1.3: every sketch is a commutative
monoid with an associative byte-stable ``merge``) makes exact:

    table.append(new_batch_df, batch_id="crawl-2026-08-17")
        stage-1 partials over ONLY the new batch (the same
        ``build_partials_with_lineage`` shape as checkpoint.py —
        per-partition (key..., sketch, rows) rows with lineage),
        written to an append-only per-batch directory.
    table.estimates()
        merge-read the live sketch rows across all batches -> finalized
        estimates.  Reads KILOBYTES per batch (serialized sketches),
        never the raw corpus: refresh cost is O(batches), not O(history).
    table.compact()
        merge all live rows down to one row per key into a new compact
        GENERATION, so read amplification stays bounded as batches
        accumulate.  Associativity makes compacted estimates
        byte-identical to merging the raw batch rows.

Commit protocol: a ``unit_log.UnitLog`` (see that module) — batches are
``batch-<id>/`` units committed by ``_BATCH_META.json``, compactions are
``compact-<n>/`` generations committed by ``MANIFEST.json``, ``retract``
is a reverse commit and ``vacuum`` deletes what the latest generation
subsumes.  Until a vacuum, history stays readable (time-travel to the
pre-compact state by reading batch dirs).

Version fencing: every unit's commit metadata (``_BATCH_META.json`` /
``MANIFEST.json``) records the ``algo_version`` (checkpoint.py's
ALGO_VERSION) that wrote it, and every read fences against it
DRIVER-SIDE — a metadata file read, zero Spark jobs.  Persisted
sketches CANNOT be recomputed from a sketch table (the raw data is
gone), so a version mismatch in live units is an ERROR naming them —
never a silent wrong-mapping merge, never a quiet recompute that
doesn't exist.  Re-ingest or keep reading with the old library
version.  Rows additionally carry ``algo_version`` as defense in depth
against hand-copied foreign files.
"""

from __future__ import annotations

import os
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import commit as _commit
from .checkpoint import ALGO_VERSION, build_partials_with_lineage
from .unit_log import UnitLog


class SketchTable(UnitLog):
    """One sketch family over one key set, maintained across ingest batches.

    The sketch callables (``factory/update/from_bytes/finalize``) follow
    the exact ``sketch_aggregate`` signatures — any family in the library
    (HLL, CMS, KLL, t-digest, Bloom, running stats, ...) drops in.  The
    caller supplies them per call (callables don't serialize); ``keys``
    are pinned in ``TABLE_META.json`` at first append and validated on
    every subsequent one, so two jobs can't interleave incompatible
    layouts into one table.
    """

    _STORE = "sketch table"
    _PIN_VERB = "keyed by"
    _RETRACT_REFUSAL = ("covered by a compact generation — sketch merges "
                        "are not invertible; rebuild instead")

    def __init__(self, spark: SparkSession, path: str, keys: Sequence[str]):
        self.spark = spark
        self.path = path
        self.keys = list(keys)

    def _pinned(self) -> dict:
        return {"keys": self.keys}

    # -- write path --------------------------------------------------------

    def append(self, df: DataFrame, batch_id: str,
               factory: Callable[[], object],
               update: Callable[[object, object], None]) -> None:
        """Build stage-1 partials over ``df`` (ONLY the new batch's raw
        data — the corpus history is never re-read) and commit them as
        ``batch-<batch_id>``.  One row per (input partition, key); rows
        carry lineage (partition_id, wall_ms) so ``lineage_metrics``
        works per batch, and ``algo_version`` for the fence."""
        [target] = self._claim("batch", [batch_id], create=True)
        partials = build_partials_with_lineage(
            df, self.keys, factory, update, query_id=batch_id
        )
        # errorifexists (default mode): two concurrent appends with the
        # same id race at the FS layer too, not just the check above.
        partials.write.parquet(target)
        self._commit_unit(target, {"batch_id": batch_id})

    def append_many(self, df: DataFrame, batch_col: str,
                    batch_ids: Sequence[str],
                    factory: Callable[[], object],
                    update: Callable[[object, object], None]) -> None:
        """Commit SEVERAL ingest batches from ONE Spark pass: ``df`` carries
        a ``batch_col`` naming each row's batch, partials build grouped by
        (batch, keys) in a single corpus scan, and each batch's (tiny,
        serialized-sketch) slice is then written to its own ``batch-<id>``
        dir under the unchanged per-batch commit protocol.  N separate
        ``append`` calls over disjoint filters of the same source pay N
        corpus scans + N Python partial stages; this pays one.

        ``batch_ids`` is the caller's exactly-once ledger (batch values in
        ``df`` outside it are an ERROR, never silently dropped); ids are
        validated and collision-checked up front so a half-failed call
        leaves only fully-committed batch dirs behind."""
        if batch_col not in df.columns:
            raise ValueError(f"no column {batch_col!r} in frame")
        batch_ids = list(batch_ids)
        if len(set(batch_ids)) != len(batch_ids):
            raise ValueError("duplicate ids in batch_ids")
        targets = self._claim("batch", batch_ids, create=True)
        partials = build_partials_with_lineage(
            df, [batch_col] + self.keys, factory, update, query_id=""
        ).withColumn("query_id", F.col(batch_col).cast("string"))
        # partials are serialized-sketch rows (kilobytes per batch): cache
        # them so the one corpus pass above feeds every per-batch write and
        # the ledger check below without re-scanning raw data
        partials = partials.cache()
        try:
            seen = {r[0] for r in
                    partials.select(batch_col).distinct().collect()}
            unknown = sorted(seen - set(batch_ids))
            if unknown:
                raise ValueError(
                    f"{batch_col!r} values {unknown} are not in batch_ids "
                    "— every row must belong to a declared batch")
            for b, target in zip(batch_ids, targets):
                slice_ = partials.filter(
                    F.col(batch_col) == b).drop(batch_col)
                slice_.write.parquet(target)  # errorifexists: FS-level race
                self._commit_unit(target, {"batch_id": b})
        finally:
            partials.unpersist()

    def compact(self, from_bytes: Callable[[bytes], object]) -> str:
        """Merge every live unit down to ONE row per key in a new compact
        generation; returns its relative dir name.  Estimates are
        byte-identical before and after (merge associativity); read
        amplification resets to one unit.  Refuses to span mixed
        ``algo_version`` rows (see module docstring)."""
        from .operators.sketch_agg import merge_sketch_rows

        self._check_meta(write_if_missing=False)
        gens = self._generations()  # one snapshot for units, covers, and n
        units = self.live_units(gens)
        if not units:
            raise ValueError(f"nothing to compact in {self.path!r}")
        self._fence_versions(units)
        rows = self._read_units(units)
        merged = merge_sketch_rows(
            rows.select(*self.keys, "sketch", "rows"), self.keys, from_bytes
        ).withColumns({
            "partition_id": F.lit(-1),
            "wall_ms": F.lit(0.0),
            "query_id": F.lit("compact"),
            "algo_version": F.lit(ALGO_VERSION),
        })
        n, gen_dir = self._open_generation(gens)
        merged.write.parquet(os.path.join(gen_dir, "data"))
        _commit.commit_json(  # the generation-level commit point
            {"covers": self._covers(gens, units),
             "algo_version": ALGO_VERSION},
            os.path.join(gen_dir, "MANIFEST.json"))
        return f"compact-{n:06d}"

    # -- read path ---------------------------------------------------------

    def _fence_versions(self, units: Sequence[str]) -> None:
        """Driver-side metadata fence — no Spark job; see module docstring."""
        stale = [(u, v) for u in units
                 if (v := self._unit_version(u)) != ALGO_VERSION]
        if stale:
            detail = ", ".join(f"{u}(v{v})" for u, v in stale)
            raise ValueError(
                f"sketch table {self.path!r} holds partials from a "
                f"different ALGO_VERSION (current {ALGO_VERSION}): {detail}. "
                "Persisted sketches cannot be recomputed from the table — "
                "re-ingest those batches with the current library, or read "
                "the table with the version that wrote them."
            )

    def sketch_rows(self) -> DataFrame:
        """Live (key..., sketch, rows) rows across all units — the
        un-finalized merged view other operators can consume (e.g. a
        rollup re-merge or a cross-table set-algebra probe)."""
        self._check_meta(write_if_missing=False)
        units = self.live_units()
        if not units:
            raise ValueError(f"sketch table {self.path!r} has no live units")
        self._fence_versions(units)
        return self._read_units(units).select(*self.keys, "sketch", "rows")

    def estimates(self, from_bytes: Callable[[bytes], object],
                  finalize: Callable[[object, int], dict],
                  out_value_schema: str) -> DataFrame:
        """Finalized per-key estimates over the live units.  Exactly equal
        to a one-shot ``sketch_aggregate`` over the union of all appended
        batches' raw data — the merge tree differs, the monoid doesn't."""
        from .operators.sketch_agg import merge_partials

        return merge_partials(
            self.sketch_rows(), self.keys, from_bytes, finalize,
            out_value_schema,
        )

    def lineage_metrics(self) -> DataFrame:
        """Per (batch, partition) lineage over ALL committed batch dirs.
        Batch dirs ONLY — compact generations collapse partition lineage
        (their rows carry partition_id=-1) and are excluded, so this view
        is unavailable once ``vacuum()`` has deleted the covered batch
        dirs (it raises "has no batches"; the table itself stays
        readable via ``estimates``/``sketch_rows``)."""
        units = [f"batch-{b}" for b in self.committed_batches()]
        if not units:
            raise ValueError(f"sketch table {self.path!r} has no batches")
        return (
            self._read_units(units)
            .groupBy(F.col("query_id").alias("batch_id"), "partition_id")
            .agg(F.sum("rows").alias("rows"),
                 F.max("wall_ms").alias("wall_ms"),
                 F.count("*").alias("n_partials"))
        )
