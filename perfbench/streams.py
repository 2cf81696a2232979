"""Attribute streaming micro-batches to the query that started them.

A micro-batch's Spark jobs carry the stream's run id as their job
group, so the event log alone files them under a UUID. This listener
maps each run id to the query tag that was current when the stream
started (``onQueryStarted`` runs synchronously inside
``DataStreamWriter.start()``), and keeps the per-batch progress numbers
that the event log does not have: trigger, addBatch and commit times
and state-store rows.
"""

from __future__ import annotations

from pyspark.sql.streaming import StreamingQueryListener

STREAM_FIELDS = (
    "batches",
    "trigger_ms",
    "add_batch_ms",
    "log_commit_ms",
    "state_commit_ms",
    "state_rows",
)


def progress_record(durations: dict, state_ops: list[tuple[int, int]]) -> dict[str, int]:
    """One micro-batch's numbers; ``state_ops`` is ``(commitTimeMs,
    numRowsTotal)`` per stateful operator."""
    return {
        "batches": 1,
        "trigger_ms": durations.get("triggerExecution", 0),
        "add_batch_ms": durations.get("addBatch", 0),
        "log_commit_ms": durations.get("walCommit", 0) + durations.get("commitOffsets", 0),
        "state_commit_ms": sum(c for c, _ in state_ops),
        "state_rows": sum(r for _, r in state_ops),
    }


def fold(batches: list[dict[str, int]]) -> dict[str, int]:
    """Sum a stream's micro-batches; ``state_rows`` is the state size
    after the last batch, not a sum."""
    out = dict.fromkeys(STREAM_FIELDS, 0)
    for b in batches:
        for k in STREAM_FIELDS:
            if k != "state_rows":
                out[k] += b[k]
    if batches:
        out["state_rows"] = batches[-1]["state_rows"]
    return out


class StreamTracker(StreamingQueryListener):
    def __init__(self) -> None:
        self.current: str | None = None
        self.run_to_tag: dict[str, str] = {}
        self.batches: dict[str, list[dict[str, int]]] = {}

    def onQueryStarted(self, event) -> None:
        if self.current is not None:
            self.run_to_tag[str(event.runId)] = self.current

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ops = [(s.commitTimeMs, s.numRowsTotal) for s in p.stateOperators]
        self.batches.setdefault(str(p.runId), []).append(progress_record(dict(p.durationMs), ops))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def per_tag(self) -> dict[str, dict[str, int]]:
        """Streaming numbers per query tag (all its streams summed)."""
        out: dict[str, dict[str, int]] = {}
        for run_id, batches in self.batches.items():
            tag = self.run_to_tag.get(run_id)
            if tag is None:
                continue
            rec = out.setdefault(tag, dict.fromkeys(STREAM_FIELDS, 0))
            for k, v in fold(batches).items():
                rec[k] += v
        return out
