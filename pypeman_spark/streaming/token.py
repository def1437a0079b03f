"""Identity of the streaming query that feeds a ``foreachBatch`` sink.

A sink that keys its exactly-once markers on ``(token, batch_id)`` must
skip a batch only when the SAME query re-delivers it. A checkpointed
query keeps its id in ``<checkpoint>/metadata`` across restarts; a
reset checkpoint gets a new id and restarts its batch ids at 0, so a
marker of the old query must not skip the new query's batches.
"""

from __future__ import annotations

import json
import os

__all__ = ["query_token"]


def query_token(checkpoint: str | None, fallback: str) -> str:
    """The query id recorded in ``<checkpoint>/metadata`` when that file
    exists and parses, else ``fallback`` (a token the caller minted for
    its own run)."""
    if checkpoint:
        try:
            with open(os.path.join(checkpoint, "metadata")) as fh:
                return str(json.load(fh)["id"])
        except (OSError, ValueError, KeyError):
            pass
    return fallback
