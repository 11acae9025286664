"""The single atomic-publish primitive behind every commit protocol here.

Every durable artifact this library writes becomes visible through exactly
one move: fully write a hidden/temporary object, then atomically swap it to
its final name.  Readers treat the final name as the commit point — a crash
anywhere before the swap leaves only invisible temporaries.  The protocols
built on this seam:

- WARC sink task commit   (sources/warc.py: dot-temp -> part-<pid>)
- the unit log under SketchTable and IvfIndex (unit_log.py: *.tmp ->
  _BATCH_META.json per batch/tombstone unit, MANIFEST.json per compact
  generation; retraction runs the protocol in REVERSE — one atomic
  unlink of the commit marker), plus the IVF quantizer's QUANT.json
  (ivf_index.py)
- pipeline staging marker (pipeline.py: _STAGE_META.json)

``publish_file`` is the ONLY function that performs the swap.  The local
implementation is ``os.replace`` (atomic on POSIX rename semantics — local
disk, NFS, Lustre).  An object-store deployment swaps THIS ONE function for
the store's atomic primitive (S3 complete-multipart-upload or
If-None-Match conditional PUT, GCS precondition compose, ABFS rename) —
everything above the seam (what is written before the swap, what a reader
treats as committed, crash invisibility) is store-agnostic and covered by
the fault-injection tests in tests/test_sketch_table.py /
tests/test_plans_scale.py.
"""

from __future__ import annotations

import json
import os


def publish_file(tmp: str, final: str) -> None:
    """Atomically publish ``tmp`` as ``final``.  The swap either fully
    happens or doesn't — no reader may ever observe a partial ``final``."""
    os.replace(tmp, final)


def list_units(path: str) -> list[str]:
    """The DISCOVERY half of the commit protocol: names directly under a
    store root (sketch-table / IVF-index unit dirs).  Every reader-side
    enumeration routes through this one function so an object-store
    deployment swaps it alongside ``publish_file`` (a LIST-prefix call
    there; ``os.listdir`` locally).  A root that was never written has no
    units — missing path returns ``[]``, matching LIST-on-empty-prefix
    semantics.  Names come back sorted so discovery order is
    deterministic across stores.  NOTE: listing is only candidate
    enumeration — committedness is still decided per unit by its marker
    (``_SUCCESS``/``_BATCH_META.json``/``MANIFEST.json``/``QUANT.json``),
    so an eventually-consistent listing that surfaces an uncommitted
    temporary never changes what a reader treats as live."""
    if not os.path.isdir(path):
        return []
    return sorted(os.listdir(path))


def commit_json(obj: dict, final: str) -> None:
    """Write ``obj`` beside ``final`` then publish it through the seam —
    the shape every metadata commit (batch meta, manifest, staging marker)
    uses."""
    tmp = final + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    publish_file(tmp, final)
