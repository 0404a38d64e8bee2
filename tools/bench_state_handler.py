"""Pure-python cost of the state_v1 assembly handler, without Spark.

Replays the streaming workload shape (G groups x T turns: an ingest batch
that buffers open sessions, then a timeout batch that renders every bundle)
against ``assembly._assemble`` with a mocked GroupState — no Arrow, no
state server, no JVM. Comparing the turns/s/core here against the measured
pipeline throughput splits the per-core cost into "our handler" vs
"applyInPandasWithState machinery" (see BENCH.md).

Usage: python tools/bench_state_handler.py [groups] [turns_per_group]
"""

from __future__ import annotations

import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from healthcare_data_harmonization_dataflow_spark.streaming import assembly as A  # noqa: E402


class MockState:
    """The GroupState surface _assemble touches."""

    def __init__(self):
        self._v = None
        self.hasTimedOut = False
        self.wm = 0

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def remove(self):
        self._v = None

    def getCurrentWatermarkMs(self):
        return self.wm

    def setTimeoutTimestamp(self, ts):
        pass


def main():
    G = int(sys.argv[1]) if len(sys.argv) > 1 else 4200
    T = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    base = 1_700_000_000
    pdfs = [
        pd.DataFrame(
            {
                "conv_id": [f"conv-{g:06d}"] * T,
                "turn_idx": np.arange(T, dtype=np.int64),
                "role": ["user", "assistant"] * ((T + 1) // 2),
                "text": [f'{{"bar":1,"note":"turn {i} of conv-{g}"}}' for i in range(T)],
                "ts": pd.to_datetime(base + np.arange(T) * 10, unit="s"),
            }
        ).iloc[:T]
        for g in range(G)
    ]
    states = [MockState() for _ in range(G)]

    t0 = time.perf_counter()
    emitted = 0
    for g in range(G):
        for df in A._assemble((f"conv-{g:06d}",), iter([pdfs[g]]), states[g], 1800, 10_000):
            emitted += len(df)
    t1 = time.perf_counter()
    for s in states:
        s.wm = (base + 10 * T + 1801) * 1000
        s.hasTimedOut = True
    t2 = time.perf_counter()
    for g in range(G):
        for df in A._assemble((f"conv-{g:06d}",), iter([]), states[g], 1800, 10_000):
            emitted += len(df)
    t3 = time.perf_counter()

    n = G * T
    ingest, emit = t1 - t0, t3 - t2
    print(f"ingest batch:  {n} turns in {ingest:.2f}s -> {n/ingest:,.0f} turns/s/core")
    print(f"timeout batch: {emit:.2f}s, {emitted} bundles rendered")
    print(f"combined:      {n/(ingest+emit):,.0f} turns/s/core pure-python")


if __name__ == "__main__":
    main()
