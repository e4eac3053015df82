#!/usr/bin/env python3
"""Tests the output checkers against planted faults.

    python3 perfbench/faults.py

Runs each workload once, briefly, and checks that its genuine outputs pass.
Then plants one fault in a copy of those outputs and checks that the
checker rejects it: a dropped table row (import_fresh) and a page shifted by one
row (browse_pages). Exits 1 if a genuine output fails or a planted fault
passes.
"""
import json
import shutil
import sys

import run
import expected as E

SEED = 11


def drop_row(work, obs):
    dump = work / obs["rounds"][0]["dump"]
    lines = dump.read_text().splitlines(keepends=True)
    dump.write_text("".join(lines[1:]))


def shift_page(work, obs):
    path = work / "pages.jsonl"
    lines = path.read_text().splitlines()
    p = json.loads(lines[0])
    rows = E.page(p["offset"] + 1)
    lines[0] = json.dumps({"offset": p["offset"], "json": json.dumps(rows)})
    path.write_text("\n".join(lines) + "\n")


FAULTS = {"import_fresh": ("dropped row", drop_row),
          "browse_pages": ("page shifted by one row", shift_page)}


def main():
    bad = 0
    for w, (name, plant) in FAULTS.items():
        work = run.BENCH / ".work" / f"faults-{w}"
        try:
            obs, _ = run.measure(w, SEED, 1, False, work)
            genuine = run.check_ops(w, obs, work)
            plant(work, obs)
            planted = run.check_ops(w, obs, work)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        ok = all(genuine) and not all(planted)
        bad += not ok
        print(f"{w}: genuine outputs {'pass' if all(genuine) else 'FAIL'}; "
              f"{name} {'rejected' if not all(planted) else 'NOT REJECTED'}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
