"""The unit-log commit protocol shared by ``SketchTable`` and ``IvfIndex``.

Both stores are an append-only log of immutable UNITS under one root
``<path>``, folded periodically into a compact GENERATION.  Every metadata
write goes through ``commit.commit_json`` / ``commit.publish_file`` and
every listing through ``commit.list_units`` (the object-store swap point);
committedness is always decided per unit by its marker, never by the
listing, so a crash anywhere before a marker lands leaves only invisible
temporaries:

- ``TABLE_META.json`` — the store's layout fields, pinned at creation and
  checked on every open (one store, one layout).
- ``<kind>-<id>/`` — a unit of kind ``batch`` (appended rows) or ``tomb``
  (deleted ids).  Spark's ``_SUCCESS`` plus ``_BATCH_META.json``, written
  last through the seam, commit it.  Ids are the caller's exactly-once
  ledger: an id that exists is refused; a dir without its marker is a
  crashed writer's orphan and is reclaimed so the retry self-heals.
- ``compact-<n>/data/`` + ``MANIFEST.json`` — a generation; the manifest
  is the commit point and lists the unit ids it ``covers`` (and, for the
  IVF index, the tombstones it absorbed under ``covers_tombs``).  Readers
  use the highest committed generation plus every committed batch it does
  not cover.  A manifest-less ``compact-<n>`` is a crashed compaction's
  orphan; the retry reclaims it at the same ``n``.
- Reverse commit: one atomic unlink of an uncovered unit's
  ``_BATCH_META.json`` uncommits it (readers treat the dir as an orphan
  from that instant); the data files are cleanup.  A unit a generation
  covers is baked into it and cannot be uncommitted.
- ``vacuum()`` deletes what the latest generation subsumes — safe any
  time after its manifest commit.  Retract, compaction and vacuum share a
  single-maintainer window: don't race an in-flight read or compaction.

On this implementation the seam is driver-local ``os.replace`` plus
``os.listdir``, so the store root must be a filesystem the driver sees
(local disk / NFS).  Every verb here is a driver-side metadata read or
write — no Spark job.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession

from . import commit as _commit
from .checkpoint import ALGO_VERSION

BATCH_ID_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]*$")
UNIT_META = "_BATCH_META.json"
_NOUN = {"batch": "batch", "tomb": "tombstone"}


def reclaim_uncommitted_batch(target: str) -> None:
    """Remove ``target`` if it is a unit dir WITHOUT ``_BATCH_META.json``
    — an uncommitted orphan left by a crashed writer (or a reverse commit
    that died mid-cleanup) — so the same logical writer's retry does not
    collide on "already exists" forever.  Two LIVE writers sharing an id
    are outside the ledger contract (the parquet errorifexists write
    still guards the window after the reclaim)."""
    if (os.path.isdir(target)
            and not os.path.exists(os.path.join(target, UNIT_META))):
        shutil.rmtree(target)


def parquet_footer_rows(paths: Iterable[str]) -> int | None:
    """Total row count of parquet ``paths`` read from the file footers —
    a driver-side metadata read, no Spark job.  Each path is a parquet
    file or a directory of part files, as a local path or a ``file:``
    URI (``DataFrame.inputFiles()`` entries qualify).

    Returns 0 for an EMPTY input (no paths, or directories holding no
    part files).  Returns None when any path is not a locally readable
    parquet layout (another URI scheme, a missing path, a footer that
    does not parse) — callers then fall back to a Spark count."""
    from urllib.parse import urlparse

    import pyarrow.parquet as pq

    try:
        total = 0
        for p in paths:
            u = urlparse(p)
            if u.scheme not in ("", "file"):
                return None
            files = [u.path]
            if os.path.isdir(u.path):
                files = [os.path.join(u.path, n)
                         for n in sorted(os.listdir(u.path))
                         if n.endswith(".parquet") and not n.startswith(".")]
            for f in files:
                total += pq.ParquetFile(f).metadata.num_rows
        return total
    except (OSError, ValueError):  # ArrowInvalid is a ValueError
        return None


class UnitLog:
    """Base of the two stores: layout pin, unit claim and discovery,
    generation listing, live-unit resolution, reverse commit and the
    shared half of vacuum.  Subclasses set the class attributes below,
    ``self.spark`` and ``self.path``, and implement ``_pinned``."""

    _STORE: str  # the store's name in messages
    _PIN_VERB: str  # "<store> at <path> is <verb> <pinned>, not <wanted>"
    _RETRACT_REFUSAL: str  # why retract() refuses a covered batch
    spark: SparkSession
    path: str

    def _pinned(self) -> dict:
        """The layout fields ``TABLE_META.json`` pins at creation."""
        raise NotImplementedError

    # -- layout ------------------------------------------------------------

    def _unit_dir(self, kind: str, unit_id: str) -> str:
        return os.path.join(self.path, f"{kind}-{unit_id}")

    def _check_meta(self, write_if_missing: bool) -> None:
        mp = os.path.join(self.path, "TABLE_META.json")
        want = self._pinned()
        if os.path.exists(mp):
            with open(mp) as f:
                meta = json.load(f)
            got = {k: meta[k] for k in want}
            if got != want:
                raise ValueError(
                    f"{self._STORE} at {self.path!r} is {self._PIN_VERB} "
                    f"{got}, not {want}")
        elif write_if_missing:
            os.makedirs(self.path, exist_ok=True)
            _commit.commit_json(
                {**want, "created_algo_version": ALGO_VERSION}, mp)
        else:
            raise ValueError(f"no {self._STORE} at {self.path!r}")

    def _claim(self, kind: str, ids: Sequence[str],
               create: bool) -> list[str]:
        """The write verbs' first step: validate every id, open (or with
        ``create``, start) the store, reclaim crashed orphans and refuse
        ids that already exist.  Returns the unit dirs to write."""
        for i in ids:
            if not BATCH_ID_RE.fullmatch(i):
                raise ValueError(
                    f"{kind}_id {i!r} must match {BATCH_ID_RE.pattern}")
        self._check_meta(write_if_missing=create)
        targets = []
        for i in ids:
            target = self._unit_dir(kind, i)
            reclaim_uncommitted_batch(target)
            if os.path.exists(target):
                raise ValueError(
                    f"{_NOUN[kind]} {i!r} already exists in {self.path!r} "
                    f"— {kind} ids are the exactly-once ledger; pick a new "
                    "id or remove the old one first")
            targets.append(target)
        return targets

    def _commit_unit(self, target: str, meta: dict) -> dict:
        """Publish a written unit's marker (stamped with the writing
        ALGO_VERSION) — the unit-level commit point."""
        meta = {**meta, "algo_version": ALGO_VERSION}
        _commit.commit_json(meta, os.path.join(target, UNIT_META))
        return meta

    # -- discovery ---------------------------------------------------------

    def _committed(self, kind: str) -> list[str]:
        """Ids of ``kind`` units with both ``_SUCCESS`` and the marker."""
        prefix = f"{kind}-"
        out = []
        for name in _commit.list_units(self.path):
            d = os.path.join(self.path, name)
            if (name.startswith(prefix)
                    and os.path.exists(os.path.join(d, "_SUCCESS"))
                    and os.path.exists(os.path.join(d, UNIT_META))):
                out.append(name[len(prefix):])
        return out

    def committed_batches(self) -> list[str]:
        """Batch ids whose append fully committed; a dir missing either
        marker is a crashed append and invisible."""
        return self._committed("batch")

    def _marked(self, prefix: str, marker: str) -> list[tuple[int, dict]]:
        """(n, marker JSON) for every ``<prefix>-<n>`` dir whose marker
        file committed, ascending by ``n``."""
        out = []
        for name in _commit.list_units(self.path):
            m = re.fullmatch(rf"{prefix}-(\d+)", name)
            if not m:
                continue
            mf = os.path.join(self.path, name, marker)
            if os.path.exists(mf):
                with open(mf) as f:
                    out.append((int(m.group(1)), json.load(f)))
        return sorted(out)

    def _generations(self) -> list[tuple[int, dict]]:
        """(n, manifest) for every manifest-committed compact generation."""
        return self._marked("compact", "MANIFEST.json")

    @staticmethod
    def _covered(gens: list[tuple[int, dict]], key: str = "covers") -> set:
        """Unit ids the latest generation's manifest lists under ``key``."""
        return set(gens[-1][1].get(key, [])) if gens else set()

    def live_units(self,
                   gens: list[tuple[int, dict]] | None = None) -> list[str]:
        """Relative dirs a reader merges: the latest committed generation
        plus every committed batch it does not cover.  Pass ``gens`` (a
        ``_generations()`` snapshot) to pin units, covers and the next
        generation number to ONE listing, so a generation committed by a
        concurrent writer between two listings can't yield an
        inconsistent view."""
        if gens is None:
            gens = self._generations()
        covered = self._covered(gens)
        head = [f"compact-{gens[-1][0]:06d}/data"] if gens else []
        return head + [f"batch-{b}" for b in self.committed_batches()
                       if b not in covered]

    def _unit_meta(self, unit: str) -> dict:
        """Commit metadata of a live unit (marker or manifest)."""
        if unit.startswith("compact-"):
            meta = os.path.join(self.path, unit.split("/")[0],
                                "MANIFEST.json")
        else:
            meta = os.path.join(self.path, unit, UNIT_META)
        with open(meta) as f:
            return json.load(f)

    def _unit_version(self, unit: str) -> str:
        return str(self._unit_meta(unit)["algo_version"])

    def _read_units(self, units: Sequence[str]) -> DataFrame:
        return self.spark.read.parquet(
            *[os.path.join(self.path, u) for u in units])

    # -- generations -------------------------------------------------------

    def _open_generation(
            self, gens: list[tuple[int, dict]]) -> tuple[int, str]:
        """(n, dir) of the next generation after the ``gens`` snapshot.  A
        dir already at ``n`` WITHOUT a manifest is a crashed predecessor's
        orphan (invisible to readers) and is reclaimed, or the retry would
        collide on it forever; a dir WITH one can't be at ``n`` (numbering
        is past the latest committed)."""
        n = gens[-1][0] + 1 if gens else 0
        gen_dir = os.path.join(self.path, f"compact-{n:06d}")
        if (os.path.isdir(gen_dir)
                and not os.path.exists(os.path.join(gen_dir,
                                                    "MANIFEST.json"))):
            shutil.rmtree(gen_dir)
        return n, gen_dir

    def _covers(self, gens: list[tuple[int, dict]],
                units: Sequence[str]) -> list[str]:
        """The new manifest's ``covers``: the prior generation's plus the
        batches ACTUALLY MERGED (``units``), never a fresh listing — a
        batch a concurrent append committed after the merge read must stay
        uncovered, or its rows would silently vanish from reads."""
        merged = {u[len("batch-"):] for u in units if u.startswith("batch-")}
        return sorted(self._covered(gens) | merged)

    # -- reverse commit and cleanup ----------------------------------------

    def _uncommit(self, kind: str, unit_id: str, covers_key: str,
                  refusal: str) -> None:
        """Reverse commit of one ``kind`` unit: refuse if the latest
        generation lists it under ``covers_key`` (``refusal`` says why),
        else unlink its marker — the reverse commit point — and remove
        the already-orphaned dir.  A crash mid-cleanup leaves an orphan
        ``reclaim_uncommitted_batch`` self-heals, so the id is free at
        once for a corrected re-write."""
        if unit_id in self._covered(self._generations(), covers_key):
            raise ValueError(f"{_NOUN[kind]} {unit_id!r} is {refusal}")
        target = self._unit_dir(kind, unit_id)
        meta = os.path.join(target, UNIT_META)
        if not os.path.exists(meta):
            raise ValueError(
                f"no committed {_NOUN[kind]} {unit_id!r} in {self.path!r}")
        os.remove(meta)
        shutil.rmtree(target)

    def retract(self, batch_id: str) -> None:
        """Remove a committed batch no compact generation covers yet — the
        "that crawl segment was bad" verb — by reverse commit.  Don't race
        an in-flight ``compact``/``refresh``: the covered check reads the
        latest COMMITTED manifest, so a retraction landing between a
        compaction's merge read and its manifest commit would be silently
        undone by that manifest."""
        self._uncommit("batch", batch_id, "covers", self._RETRACT_REFUSAL)

    def _vacuum_units(self, kind: str, covered: set) -> list[str]:
        removed = []
        for u in self._committed(kind):
            if u in covered:
                shutil.rmtree(self._unit_dir(kind, u))
                removed.append(f"{kind}-{u}")
        return removed

    def _vacuum_more(self, gens: list[tuple[int, dict]]) -> list[str]:
        """Store-specific units the latest generation subsumes."""
        return []

    def vacuum(self) -> list[str]:
        """Delete units subsumed by the latest compact generation (covered
        batch dirs and older compacts, plus the store's own extras) — safe
        any time after the manifest commit.  Returns what it removed."""
        gens = self._generations()
        if not gens:
            return []
        removed = self._vacuum_units("batch", self._covered(gens))
        for n, _ in gens[:-1]:
            shutil.rmtree(os.path.join(self.path, f"compact-{n:06d}"))
            removed.append(f"compact-{n:06d}")
        return removed + self._vacuum_more(gens)
