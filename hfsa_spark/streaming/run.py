"""Running a stream to completion.

Every gate and maintenance loop here starts its query with
``trigger(availableNow=True)``: it processes what has arrived, then ends.
:func:`drain` is the one way to wait for that end.
"""

from __future__ import annotations

# How long drain() waits for a query before calling it stuck. A constant,
# not a parameter: a gate that needs longer is a gate to fix.
STREAM_TIMEOUT_S = 600


def drain(query) -> None:
    """Wait for ``query`` to finish, then stop it.

    Raises ``TimeoutError`` when the query is still running after
    ``STREAM_TIMEOUT_S`` seconds, so a stuck stream never hands back a
    partial answer. An error raised inside the stream (a failing
    ``foreachBatch``, say) propagates as the ``StreamingQueryException``
    ``awaitTermination`` raises. The query is stopped either way."""
    try:
        if not query.awaitTermination(STREAM_TIMEOUT_S):
            raise TimeoutError(
                f"streaming query {query.id} still running after {STREAM_TIMEOUT_S} s"
            )
    finally:
        query.stop()
