"""Per-batch watermark markers for the foreachBatch sinks that replay
Spark's watermark (``late.LateSideOutput``,
``sources.partition_commit.PartitionCommitSink``).

Each batch writes its max event time to ``<root>/_wm/b<id>.json``
(tmp file + ``os.replace``, overwrite-idempotent).  The watermark base
of batch N is the max over markers of STRICTLY earlier batches, read
from disk rather than driver memory: a driver restart resumes exactly,
and a foreachBatch retry of batch N never counts N's own rows.

The protocol is driver-local ``os.*`` file I/O.  On a remote filesystem
it would silently do nothing (no markers, no listings), so a remote
URI root is rejected up front.
"""

from __future__ import annotations

import json
import os
import re

_REMOTE_URI = re.compile(r"^[a-z][a-z0-9+.\-]*://", re.IGNORECASE)


def marker_dir(root: str, owner: str) -> str:
    """``<root>/_wm``; raises NotImplementedError for a remote URI."""
    if _REMOTE_URI.match(root):
        raise NotImplementedError(
            f"{owner}'s watermark markers use driver-local file I/O; "
            f"{root!r} is a remote URI — use a locally-mounted "
            "(shared/NFS) path, or port streaming/wm_markers.py to the "
            "Hadoop FileSystem API for object stores"
        )
    return os.path.join(root, "_wm")


def prev_max_us(mdir: str, before_batch: int) -> int | None:
    """Max event time (epoch micros) over markers of batches before
    ``before_batch``; None when there are none."""
    if not os.path.isdir(mdir):
        return None
    best: int | None = None
    for fn in os.listdir(mdir):
        m = re.fullmatch(r"b(\d+)\.json", fn)
        if not m or int(m.group(1)) >= before_batch:
            continue
        with open(os.path.join(mdir, fn)) as fh:
            v = json.load(fh)["max_us"]
        if v is not None and (best is None or v > best):
            best = v
    return best


def write_max_us(mdir: str, batch_id: int, max_us: int | None) -> None:
    """Persist batch ``batch_id``'s max event time atomically."""
    os.makedirs(mdir, exist_ok=True)
    tmp = os.path.join(mdir, f".b{batch_id}.json.tmp")
    with open(tmp, "w") as fh:
        json.dump({"batch_id": batch_id, "max_us": max_us}, fh)
    os.replace(tmp, os.path.join(mdir, f"b{batch_id}.json"))
