"""Waiting for a streaming query to finish.

Every ``trigger(availableNow=True)`` drain in the package, its query
registry, tools and examples waits through :func:`await_stream`: a
drain that outlives its timeout is stopped and raises, so the caller
never goes on to read a partial sink.
"""

from __future__ import annotations


def await_stream(query, timeout_s: float, what: str = "stream") -> None:
    """Block until ``query`` terminates. If it is still running after
    ``timeout_s`` seconds, stop it and raise :class:`TimeoutError`. A
    query that fails raises its ``StreamingQueryException`` as
    ``awaitTermination`` does."""
    if not query.awaitTermination(timeout_s):
        query.stop()
        raise TimeoutError(f"{what} did not finish in {timeout_s}s")
