"""Loud drains for streaming queries.

``q.awaitTermination(N)`` returns False on timeout WITHOUT stopping the
query — every call site that then reads the sink treats a half-drained
run as complete.  At sf10 the stream-stream interval join hit exactly
this: the second micro-batch was still joining at the 180 s mark, the op
read the sink early, and the result silently lost half its matches (the
r13 sweep caught it as a 2x oracle rowcount).  A drain timeout must be
an ERROR, never a truncated answer.
"""

from __future__ import annotations

import json
import os
import time


def await_drained(q, timeout_sec: float = 1800.0) -> None:
    """Wait for an availableNow (terminating) query to finish; RAISE if
    it is still running at the deadline instead of returning a sink that
    is missing batches."""
    q.awaitTermination(timeout_sec)
    if q.isActive:
        q.stop()
        q.awaitTermination(60)
        raise TimeoutError(
            f"streaming drain still running after {timeout_sec}s - "
            f"refusing to read a half-drained sink (lastProgress="
            f"{q.lastProgress and q.lastProgress.get('batchId')})")
    if q.exception() is not None:
        raise q.exception()


def committed_file_idx(ckpt_dir: str) -> int:
    """The docstore offset already committed in a streaming checkpoint
    (0 when the checkpoint is fresh or unreadable).

    Reads Spark's offset log — a stable, documented on-disk layout
    (``offsets/<batchId>`` written before the batch, ``commits/<batchId>``
    after) whose per-source offset line is OUR OWN json
    (``{"file_idx": N}``, DocStoreStreamReader).  Used only as the
    restart seed for the rate-capped tail; a wrong seed degrades to
    re-delivery, which the idempotent MERGE absorbs (at-least-once)."""
    commits = os.path.join(ckpt_dir, "commits")
    offsets = os.path.join(ckpt_dir, "offsets")
    try:
        done = max(int(f) for f in os.listdir(commits) if f.isdigit())
    except (OSError, ValueError):
        return 0
    try:
        with open(os.path.join(offsets, str(done))) as fh:
            lines = [ln.strip() for ln in fh if ln.strip()]
        return int(json.loads(lines[-1])["file_idx"])
    except (OSError, ValueError, KeyError, IndexError):
        return 0


def drain_to(q, ckpt_dir: str, target: int, timeout_sec: float) -> int:
    """Poll running query ``q`` until its checkpoint ``ckpt_dir`` has
    committed ``target`` docstore files or ``timeout_sec`` passes, then
    stop it; a failed query raises.  Returns the committed count, which
    the caller compares with what it needs."""
    deadline = time.time() + timeout_sec
    try:
        while time.time() < deadline:
            if q.exception() is not None:
                raise q.exception()
            if committed_file_idx(ckpt_dir) >= target:
                break
            time.sleep(0.2)
    finally:
        q.stop()
        q.awaitTermination(60)
    return committed_file_idx(ckpt_dir)
