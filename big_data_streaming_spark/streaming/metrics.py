"""Streaming observability: a StreamingQueryListener that accumulates
per-query progress (rows/sec, batch durations, state size) — the numbers
an operator watches to size triggers and state stores at production scale.
The reference's observability was INFO logs and a kafka-ui tab
(SURVEY.md §5); this is the engine-native replacement."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener


class ProgressCollector(StreamingQueryListener):
    """Collects micro-batch progress per query name. Read ``stats`` after
    (or during) a run; attach/detach with ``install``/``uninstall``."""

    def __init__(self) -> None:
        self.stats: dict[str, list[dict]] = defaultdict(list)

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        ops = p.stateOperators or []
        self.stats[p.name or p.id].append(
            {
                "batchId": p.batchId,
                "numInputRows": p.numInputRows,
                "inputRowsPerSecond": p.inputRowsPerSecond,
                "durationMs": dict(p.durationMs) if p.durationMs else {},
                # State-store cost of the batch, summed over stateful
                # operators: store instances opened (one per shuffle
                # partition per evaluation of the plan), commit time and
                # rows held after the commit.
                "numStateStoreInstances": sum(
                    o.numStateStoreInstances for o in ops
                ),
                "commitTimeMs": sum(o.commitTimeMs for o in ops),
                "numRowsTotal": sum(o.numRowsTotal for o in ops),
            }
        )

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def install(self, spark: SparkSession) -> "ProgressCollector":
        spark.streams.addListener(self)
        return self

    def uninstall(self, spark: SparkSession) -> None:
        spark.streams.removeListener(self)

    def total_rows(self, name: str) -> int:
        return sum(s["numInputRows"] for s in self.stats.get(name, []))
