"""Open-loop event generator for the live phase of ``stream_events``.

Runs as its own process so the streaming queries it feeds cannot slow it
down. File ``i`` is due at ``start + i / files_per_s``; the generator sleeps
until then, writes the file under a hidden name and publishes it with an
atomic rename (the streaming file source skips names starting with ``.``).
All events are generated before the first due time. At the end it writes a
manifest of (file, due, published) so latency is timed from the due time
and lateness is visible.

Usage: livegen.py OUT_DIR MANIFEST SEED START_EPOCH_S N_FILES ROWS_PER_FILE FILES_PER_S
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402

# live event time starts where no batch input reaches, one event every 10 ms
LIVE_EPOCH_US = datagen.epoch_us(2024, 3, 1)
EVENT_STEP_US = 10_000


def main(argv: list[str]) -> int:
    out_dir, manifest = argv[0], argv[1]
    seed, start = int(argv[2]), float(argv[3])
    n_files, rows, files_per_s = int(argv[4]), int(argv[5]), float(argv[6])
    rng = np.random.default_rng(seed + 7)
    tabs = []
    for i in range(n_files):
        first = i * rows
        ts = LIVE_EPOCH_US + np.arange(first, first + rows) * EVENT_STEP_US
        tabs.append(datagen.events_at(rng, ts, first))
    os.makedirs(out_dir, exist_ok=True)
    try:  # stay on schedule while the streaming queries load every core
        os.nice(-5)
    except OSError:
        pass
    log = []
    for i, tab in enumerate(tabs):
        due = start + i / files_per_s
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        name = f"part-{i:05d}.parquet"
        tmp = os.path.join(out_dir, "." + name)
        pq.write_table(tab, tmp)
        os.rename(tmp, os.path.join(out_dir, name))
        log.append({"file": name, "due": due, "published": time.time()})
    with open(manifest + ".tmp", "w") as fh:
        json.dump(log, fh)
    os.rename(manifest + ".tmp", manifest)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
