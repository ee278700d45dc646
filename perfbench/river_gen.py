"""River sensor generator: a separate process writing wire-format files
on a fixed schedule.

File ``i`` is due at ``start + i * tick`` within its phase. The schedule
never slides: a file written late is written at once, and its lateness
is logged, so a slow consumer cannot slow the arrival rate. Each file
is written under a temporary name next to the input directory and
renamed in, so the file source never sees a partial file.

The manifest holds one JSON line per file: index, name, phase, rows,
due time and write time (epoch seconds). Its last line is
``{"done": true}``.

Usage:
    python3 perfbench/river_gen.py OUT_DIR MANIFEST SEED START TICK_S RATE:SECONDS [RATE:SECONDS ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from datagen import wire_rows  # noqa: E402


def main(argv: list[str]) -> int:
    out_dir, manifest, seed, start, tick = argv[0], argv[1], int(argv[2]), float(argv[3]), float(argv[4])
    phases = [(float(r), float(s)) for r, s in (p.split(":") for p in argv[5:])]
    tmp_dir = out_dir.rstrip("/") + ".tmp"
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(tmp_dir, exist_ok=True)
    i = 0
    due_base = start
    with open(manifest, "w") as log:
        for phase, (rate, seconds) in enumerate(phases):
            n_files = int(round(seconds / tick))
            rows = max(1, int(round(rate * tick)))
            for k in range(n_files):
                rng = np.random.default_rng([seed, i])
                body = "\n".join(wire_rows(rng, rows)) + "\n"
                due = due_base + k * tick
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                name = f"part-{i:06d}.json"
                with open(os.path.join(tmp_dir, name), "w", encoding="utf-8") as fh:
                    fh.write(body)
                os.rename(os.path.join(tmp_dir, name), os.path.join(out_dir, name))
                wrote = time.time()
                log.write(json.dumps({"i": i, "name": name, "phase": phase, "rows": rows, "due": due, "wrote": wrote}) + "\n")
                log.flush()
                i += 1
            due_base += n_files * tick
        log.write(json.dumps({"done": True}) + "\n")
    os.rmdir(tmp_dir)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
