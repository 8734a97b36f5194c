#!/usr/bin/env python
"""CDC apply-path throughput: events/second through the streaming
materializer (changelog segments → readStream → foreachBatch MERGE →
queryable state), the pipeline the reference's binlog loop feeds row
by row.

The reference (go-cdc) publishes no throughput numbers (BASELINE.md),
so this records OUR single-node figure per round: N synthetic change
events (insert/update/delete mix over a K-key state) split into S
segment files, drained with availableNow + maxFilesPerTrigger, timed
end-to-end including every state rewrite and checkpoint commit. Two
batch sizes bound the regimes: many small batches measure per-batch
overhead (the reference's row-at-a-time loop amortizes nothing), one
big batch measures pure apply bandwidth.

Usage: python tools/stream_bench.py [n_events] [n_keys]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from go_cdc_spark.session import get_spark  # noqa: E402
from go_cdc_spark.sources.changelog import format_pos  # noqa: E402
from go_cdc_spark.streaming.pipeline import (  # noqa: E402
    StreamingMaterializer,
    read_changelog_stream,
)

N_EVENTS = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
N_KEYS = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000


_LIVE: dict[int, dict] = {}  # key -> last full image (for before-images)


def _event(pos: int) -> dict:
    key = (pos * 2654435761) % N_KEYS  # Fibonacci-hash key spread
    op = ("insert", "update", "update", "delete")[pos % 4]
    if op in ("update", "delete") and key not in _LIVE:
        op = "insert"  # can't mutate a key that never existed
    e = {
        "data_source": "ds1",
        "schema": "bank",
        "table": "accounts",
        "op": op,
        "ts": None,
        "pos": format_pos(pos),
        "txn_id": None,
    }
    image = {"id": str(key), "v": f"v{pos}"}
    # full before-images (binlog_row_image=FULL), as the binlog emits
    if op in ("update", "delete"):
        e["before"] = _LIVE[key]
    if op == "delete":
        del _LIVE[key]
    else:
        e["data"] = image
        _LIVE[key] = image
    return e


def _write_segments(root: str, n_segments: int) -> str:
    seg = os.path.join(root, f"segments_{n_segments}")
    os.makedirs(seg, exist_ok=True)
    per = N_EVENTS // n_segments
    t0 = time.time() - 10_000
    for s in range(n_segments):
        p = os.path.join(seg, f"seg{s:04d}.json")
        with open(p, "w") as f:
            for i in range(s * per, (s + 1) * per):
                f.write(json.dumps(_event(i + 1)) + "\n")
        os.utime(p, (t0 + s, t0 + s))
    return seg


def _drain(spark, seg: str, root: str, tag: str, files_per_trigger: int) -> float:
    mat = StreamingMaterializer(
        spark,
        spark.createDataFrame([], "id long, v string"),
        keys=["id"],
        state_path=os.path.join(root, f"state_{tag}"),
    )
    stream = read_changelog_stream(
        spark, seg, max_files_per_trigger=files_per_trigger
    )
    t0 = time.monotonic()
    q = mat.start(stream, os.path.join(root, f"ckpt_{tag}"))
    q.awaitTermination(600)
    dt = time.monotonic() - t0
    n_state = mat.read_table().count()
    assert 0 < n_state <= N_KEYS, n_state
    return dt


def main() -> None:
    spark = get_spark()
    root = tempfile.mkdtemp(prefix="stream_bench_")
    try:
        seg10 = _write_segments(root, 10)
        # warm the streaming machinery once (JVM, codegen, sink classes)
        _drain(spark, seg10, root, "warm", files_per_trigger=10)
        t_big = _drain(spark, seg10, root, "big", files_per_trigger=10)
        t_micro = _drain(spark, seg10, root, "micro", files_per_trigger=1)
        print(
            json.dumps(
                {
                    "metric": "cdc_apply_events_per_sec",
                    "n_events": N_EVENTS,
                    "n_keys": N_KEYS,
                    "one_batch_eps": round(N_EVENTS / t_big),
                    "one_batch_sec": round(t_big, 2),
                    "ten_batches_eps": round(N_EVENTS / t_micro),
                    "ten_batches_sec": round(t_micro, 2),
                }
            )
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
