"""Checks of a run's outputs against expected.py. Each returns one bool per
operation the run attempted; an operation whose output is wrong fails.
"""
import json
from pathlib import Path

import expected as E


def table_ok(dump_path, want):
    """A table dump (one tab-separated row per line) against (count, checksum)."""
    with open(dump_path, encoding="utf-8") as f:
        got = E.checksum(line.rstrip("\n").split("\t") for line in f)
    return got == want


def check_imports(obs, work, want):
    return [table_ok(Path(work) / r["dump"], want) for r in obs["rounds"]]


def check_pages(pages_path):
    oks = []
    with open(pages_path, encoding="utf-8") as f:
        for line in f:
            p = json.loads(line)
            try:
                got = json.loads(p["json"])
            except ValueError:
                oks.append(False)
                continue
            oks.append(len(got) == 10 and got == E.page(p["offset"]))
    return oks
