"""Open-loop file releaser: the stand-in for producers writing to the
dead-letter topics.

Runs as its own process. It moves each pre-built file into the stream's
source directory by an atomic rename at its scheduled time, whether or not
the analyzer has kept up, and logs when each file actually landed so the
harness can report how late the releaser ran.

    python3 perfbench/release.py SCHEDULE.json LOG.json

``SCHEDULE.json`` is a list of phases ``{"go": PATH, "files": [{"src",
"dst", "name", "offset"}]}``. A phase starts when its ``go`` file exists
(the harness creates it once the previous phase has drained); each file is
then due ``offset`` seconds after the phase start, on a fixed schedule.
``LOG.json`` receives one ``{"name", "phase", "due", "at"}`` per file, in
epoch seconds.
"""

from __future__ import annotations

import json
import os
import sys
import time


def release(schedule: list[dict], timeout_s: float = 150.0) -> list[dict]:
    log = []
    give_up = time.time() + timeout_s
    for i, phase in enumerate(schedule):
        while not os.path.exists(phase["go"]):
            if time.time() > give_up:
                raise TimeoutError(f"phase {i} never started")
            time.sleep(0.005)
        start = time.time()
        for item in sorted(phase["files"], key=lambda f: f["offset"]):
            due = start + item["offset"]
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            # the file source skips files older than its max age by mtime
            os.utime(item["src"])
            os.rename(item["src"], item["dst"])
            log.append({"name": item["name"], "phase": i, "due": due,
                        "at": time.time()})
    return log


def main(argv: list[str]) -> None:
    schedule_path, log_path = argv
    with open(schedule_path) as f:
        schedule = json.load(f)
    log = release(schedule)
    with open(log_path + ".tmp", "w") as f:
        json.dump(log, f)
    os.rename(log_path + ".tmp", log_path)


if __name__ == "__main__":
    main(sys.argv[1:])
