"""Streaming metrics: a StreamingQueryListener that records per-batch
progress (rows, duration, state size) to a JSONL file — the metrics leg of
the north rule's "per-partition lineage + metrics logged"."""

from __future__ import annotations

import json
import os
import threading

from pyspark.sql.streaming import StreamingQueryListener


class JsonlMetricsListener(StreamingQueryListener):
    """Records the queries its owner starts, and removes itself from the
    session once they have all terminated.

    A listener sees every query in the session, so it adopts a query only
    when the query's start event names the query its owner is starting
    (``expecting``). Spark delivers that event synchronously, before
    ``DataStreamWriter.start()`` returns, so the owner sets ``expecting``
    around each ``start()`` from one thread and calls ``seal()`` when it
    has started them all.
    """

    def __init__(self, path: str, streams):
        self.path = path
        self.streams = streams
        self.expecting: str | None = None
        self._live: set[str] = set()
        self._ids: set[str] = set()
        self._sealed = False
        self._lock = threading.Lock()
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        streams.addListener(self)

    def seal(self) -> None:
        """No more queries will be adopted; remove the listener once the
        adopted ones have terminated (now, if they already have)."""
        with self._lock:
            self._sealed = True
            done = not self._live
        if done:
            self.streams.removeListener(self)

    def onQueryStarted(self, event) -> None:
        with self._lock:
            if self._sealed or event.name != self.expecting:
                return
            self._ids.add(str(event.id))
            self._live.add(str(event.id))
        self._write({"event": "started", "id": str(event.id), "name": event.name})

    def onQueryProgress(self, event) -> None:
        p = event.progress
        if str(p.id) not in self._ids:
            return
        self._write(
            {
                "event": "progress",
                "id": str(p.id),
                "batch_id": p.batchId,
                "num_input_rows": p.numInputRows,
                "input_rows_per_second": p.inputRowsPerSecond,
                "processed_rows_per_second": p.processedRowsPerSecond,
                "duration_ms": dict(p.durationMs or {}),
                "state_operators": [
                    {
                        "operator": so.operatorName,
                        "rows_total": so.numRowsTotal,
                        "rows_updated": so.numRowsUpdated,
                        "memory_bytes": so.memoryUsedBytes,
                    }
                    for so in (p.stateOperators or [])
                ],
            }
        )

    def onQueryTerminated(self, event) -> None:
        qid = str(event.id)
        if qid not in self._ids:
            return
        self._write({"event": "terminated", "id": qid, "exception": event.exception})
        with self._lock:
            self._live.discard(qid)
            done = self._sealed and not self._live
        if done:
            self.streams.removeListener(self)

    def onQueryIdle(self, event) -> None:  # pragma: no cover
        pass

    def _write(self, rec: dict) -> None:
        with open(self.path, "a") as f:
            f.write(json.dumps(rec, default=str) + "\n")
