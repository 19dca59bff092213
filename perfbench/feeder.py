"""Open-loop landing feeder, run as its own process.

Moves pre-written files from a staging directory into the landing
directories on a fixed schedule that does not slow down when the engine
does.  Each move is an atomic rename into place, so the file source never
sees a partly written file.  Writes ``[[dst, due, landed], ...]`` (epoch
seconds) to the log path when done, so the caller can measure freshness
from the due time and report how late the feeder itself ran.

Usage: python -m perfbench.feeder SCHEDULE.json LOG.json
where SCHEDULE.json is {"start": epoch, "moves": [[src, dst, offset_s], ...]}.
"""

from __future__ import annotations

import json
import os
import sys
import time


def feed(schedule: dict) -> list[list]:
    start = schedule["start"]
    log = []
    for src, dst, offset in sorted(schedule["moves"], key=lambda m: m[2]):
        due = start + offset
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        os.replace(src, dst)
        log.append([dst, due, time.time()])
    return log


def main(argv: list[str]) -> None:
    with open(argv[1]) as f:
        schedule = json.load(f)
    log = feed(schedule)
    with open(argv[2], "w") as f:
        json.dump(log, f)


if __name__ == "__main__":
    main(sys.argv)
