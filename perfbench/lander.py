#!/usr/bin/env python3
"""Open-loop file lander for ``commits_stream``.

Lands pre-generated tick files into the stream's input directories on
a fixed schedule, whatever the consumer is doing: tick ``k`` is due at
``t0 + (k - first) / rate`` and its commit file and geo file are each
written under a dot-prefixed temporary name (which Spark's file source
ignores) and renamed into place atomically. One JSON line per landed
file goes to ``--log``: the file name, when it was due, and when it
landed.

    python3 perfbench/lander.py --src DIR --dst DIR --first 3 --count 100 \
        --rate 8.0 --t0 1700000000.0 --log landed.jsonl

Runs as a process of its own so the schedule never waits on the
benchmark's Python thread. Imports nothing from the package.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import time


def tick_files(src: str, k: int) -> list[tuple[str, str]]:
    """(kind, file name) of tick ``k`` that exist under ``src``."""
    out = []
    for kind, prefix in (("commits", "c"), ("geo", "g")):
        name = f"{prefix}-{k:05d}.jsonl"
        if os.path.exists(os.path.join(src, kind, name)):
            out.append((kind, name))
    return out


def land(src: str, dst: str, kind: str, name: str) -> None:
    tmp = os.path.join(dst, kind, f".{name}.tmp")
    shutil.copyfile(os.path.join(src, kind, name), tmp)
    os.rename(tmp, os.path.join(dst, kind, name))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", required=True)
    ap.add_argument("--dst", required=True)
    ap.add_argument("--first", type=int, required=True)
    ap.add_argument("--count", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True, help="ticks per second")
    ap.add_argument("--t0", type=float, required=True, help="due time of the first tick (epoch s)")
    ap.add_argument("--log", required=True)
    a = ap.parse_args(argv)
    with open(a.log, "w") as log:
        for i in range(a.count):
            k = a.first + i
            due = a.t0 + i / a.rate
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            for kind, name in tick_files(a.src, k):
                land(a.src, a.dst, kind, name)
                log.write(json.dumps({"file": name, "tick": k, "due": due,
                                      "landed": time.time()}) + "\n")
                log.flush()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
