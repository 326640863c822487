"""Open-loop file lander, run as its own single-threaded process.

    python3 lander.py <plan.json> <stamps.json>

``plan.json`` holds ``{"start": <epoch s>, "src": dir, "dst": dir,
"files": [[name, offset_s], ...]}``. Each file is moved from ``src``
to ``dst`` by an atomic ``os.rename`` when ``start + offset_s`` is
due, on a schedule that never waits for the system under test. For
each file the lander records when it was due and when the rename
returned, and writes ``{"files": [[name, due, landed], ...]}`` to
``stamps.json`` when the plan is done.
"""

from __future__ import annotations

import json
import os
import sys
import time


def land(plan: dict) -> list[list]:
    stamps = []
    for name, offset in plan["files"]:
        due = plan["start"] + offset
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        os.rename(os.path.join(plan["src"], name), os.path.join(plan["dst"], name))
        stamps.append([name, due, time.time()])
    return stamps


def main(argv: list[str]) -> int:
    plan_path, out_path = argv
    with open(plan_path) as fh:
        plan = json.load(fh)
    stamps = land(plan)
    tmp = out_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"files": stamps}, fh)
    os.rename(tmp, out_path)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
