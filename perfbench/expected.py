#!/usr/bin/env python3
"""Expected results, derived without the program.

The locations rows come from Gen's formula re-written in plain Python.

    python3 perfbench/expected.py --workload import_fresh

prints the expected row count and checksum of the table (import_fresh) or
the first expected page (browse_pages). Neither depends on the seed: the
seed orders the file's rows and picks the pages, not their contents.
"""
import argparse
import hashlib
import json

TIMEZONES = ["America/New_York", "Europe/London", "Asia/Tokyo",
             "Australia/Sydney", "America/Los_Angeles", "Europe/Berlin"]
COUNTRIES = ["USA", "UK", "Japan", "Australia", "Germany", "Canada"]
LOCNAMES = ["Springfield", "Rivertown", "Lakeside", "Hillview", "Bayport", "Meadowfield"]
BUSINESSES = ["TechCorp", "CoffeeCo", "MarketPlace", "MediHealth", "EduWise", "GreenBuild"]

FIELDS = ["locid", "loctimezone", "country", "locname", "business"]

# Sizes of the generated inputs. run.py passes them to the JVM.
FRESH_ROWS = 30000
PAGE_ROWS = 50000


def locid(i):
    return "LOC%012d" % i


def attrs(i):
    """Gen.locations' non-key columns for id i."""
    return (TIMEZONES[i % 6], COUNTRIES[(i // 7) % 6],
            "%s_%d" % (LOCNAMES[(i // 11) % 6], i % 1000),
            "%s_%d" % (BUSINESSES[(i // 13) % 6], (i * 7) % 1000))


def row(i):
    return (locid(i),) + attrs(i)


def row_hash(fields):
    return int.from_bytes(hashlib.md5("\t".join(fields).encode()).digest()[:8], "little")


def checksum(rows):
    """(count, order-independent sum of 64-bit row hashes)."""
    n = s = 0
    for r in rows:
        n += 1
        s = (s + row_hash(r)) % (1 << 64)
    return n, s


def fresh_table(n=FRESH_ROWS):
    return (row(i) for i in range(1, n + 1))


def page(offset):
    """Rows at key positions [offset, offset + 10) of the browsed table."""
    return [dict(zip(FIELDS, row(i + 1))) for i in range(offset, min(offset + 10, PAGE_ROWS))]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["import_fresh", "browse_pages"])
    a = ap.parse_args()
    if a.workload == "import_fresh":
        print(json.dumps(dict(zip(["rows", "checksum"], checksum(fresh_table())))))
    else:
        print(json.dumps(page(0)))


if __name__ == "__main__":
    main()
