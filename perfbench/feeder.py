"""Open-loop load generator: one process, one thread.

Input files are written in full beforehand into a staging directory on
the same filesystem; the feeder only renames each one into the watched
directory when it is due, so a slow system never slows the schedule
and a reader never sees a half-written file. It records, per file, the
time it was due and the time the rename completed.

    python3 perfbench/feeder.py <plan.json> <result.json>

``plan.json``: ``{"t0": <epoch s>, "files": [[due_offset_s, src, dst], ...]}``
"""

from __future__ import annotations

import json
import os
import sys
import time


def feed(plan: dict) -> list[dict]:
    t0 = plan["t0"]
    out = []
    for due_off, src, dst in plan["files"]:
        due = t0 + due_off
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        os.rename(src, dst)
        out.append({"file": os.path.basename(dst), "due": due, "landed": time.time()})
    return out


def main(argv: list[str]) -> int:
    plan_path, result_path = argv
    with open(plan_path) as fh:
        plan = json.load(fh)
    result = feed(plan)
    tmp = result_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(result, fh)
    os.replace(tmp, result_path)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
