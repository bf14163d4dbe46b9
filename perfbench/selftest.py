"""The benchmark's own self-test.

    python3 perfbench/selftest.py

Run from the root of the checkout. First it shows that the comparator
accepts a reordering of rows and rejects a changed value, a missing row
and an extra duplicate. Then it runs every workload once at sf0.001 with
tracing on and all output checks, and requires every run to be correct
with no failed operation. Exits 0 when all of that holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import pyarrow as pa  # noqa: E402

import compare  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def comparator_cases() -> list[str]:
    cols = ["k", "name", "x"]
    rows = [(1, "a", 0.5), (2, "b", 1.25), (3, "c", None), (2, "b", 1.25)]
    cases = {
        "reordered rows are accepted": (list(reversed(rows)), True),
        "a changed value is rejected": ([(1, "a", 0.5), (2, "b", 1.26), (3, "c", None), (2, "b", 1.25)], False),
        "a missing row is rejected": (rows[:3], False),
        "an extra duplicate is rejected": (rows + [(1, "a", 0.5)], False),
        "a duplicate swapped for another row is rejected": ([(1, "a", 0.5), (2, "b", 1.25), (3, "c", None), (1, "a", 0.5)], False),
        "int64 patched to float64 is accepted": ([(1.0, "a", 0.5), (2.0, "b", 1.25), (3.0, "c", None), (2.0, "b", 1.25)], True),
        "numbers returned as strings are rejected": ([(1, "a", "0.5"), (2, "b", "1.25"), (3, "c", None), (2, "b", "1.25")], False),
    }
    errors = []
    for what, (got, equal) in cases.items():
        for form in ("rows", "arrow"):
            if form == "rows":
                d = compare.diff(cols, got, cols, rows)
            else:
                d = compare.diff_tables(
                    pa.table(dict(zip(cols, map(list, zip(*got))))),
                    pa.table(dict(zip(cols, map(list, zip(*rows))))),
                )
            ok = (d is None) == equal
            print(f"  {'ok ' if ok else 'BAD'} {what} ({form}): {d or 'equal'}")
            if not ok:
                errors.append(f"{what} ({form})")
    if compare.diff(["k"], [(1,)], ["K2"], [(1,)]) is None:
        errors.append("a different column name is accepted")
    return errors


def workload_runs() -> list[str]:
    errors = []
    for name in WORKLOADS:
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
             "--seed", "1", "--seconds", "0", "--trace", "1", "--sf", "0.001"],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        try:
            res = json.loads(last)
        except ValueError:
            res = None
        good = p.returncode == 0 and res and res["correct"] and res["failed"] == 0
        print(f"  {'ok ' if good else 'BAD'} {name}: exit {p.returncode} {last[:200]}")
        if not good:
            errors.append(name)
            sys.stderr.write(p.stderr[-3000:])
    return errors


def main() -> int:
    print("comparator:")
    errors = comparator_cases()
    print("workloads at sf0.001:")
    errors += workload_runs()
    print("self-test", "FAILED: " + ", ".join(errors) if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
