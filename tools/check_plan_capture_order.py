"""Audit the before/after plan captures under plans/r*/.

The r13 verdict found one `_before.txt` committed AFTER its query was
rewritten — structurally identical to the `_after.txt` (only expression
IDs differed), which broke the claim's evidence chain. This check makes
that class of mistake mechanical to catch:

1. ORDER: the commit that first added `X_before.txt` must not be newer
   than the one that first added `X_after.txt`.
2. STALENESS (WARN only): a pair that is identical or >= 98% similar
   after normalizing expression IDs (`#123`), hex ids and whitespace
   either re-captured a stale before (the r13 ER capture normalized to
   99.9% similarity) or belongs to a PLAN-NEUTRAL change (driver-loop /
   checkpoint work) — verify the optimization writeup cites jobs/bytes
   for that query, not plan shape. Only ORDER violations fail the run.

Usage: python tools/check_plan_capture_order.py [plans_dir ...]
       (defaults to every plans/r*/ directory)

Exit 1 if any pair violates a rule; pairs with a missing side are
reported as INFO only (captures for examine-and-leave queries have no
after file by design).
"""

from __future__ import annotations

import difflib
import glob
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _first_add_time(path: str) -> int | None:
    """Unix time of the commit that first ADDED path (None: untracked)."""
    out = subprocess.run(
        [
            "git", "-C", HERE, "log", "--follow", "--diff-filter=A",
            "--format=%ct", "--", path,
        ],
        capture_output=True,
        text=True,
    ).stdout.split()
    return int(out[-1]) if out else None


_EXPR_ID = re.compile(r"#\d+L?")
_HEX_ID = re.compile(r"\b[0-9a-f]{8,}\b")


def _normalized(path: str) -> str:
    with open(path) as fh:
        s = fh.read()
    s = _EXPR_ID.sub("#x", s)
    s = _HEX_ID.sub("hex", s)
    return re.sub(r"\s+", " ", s).strip()


def main() -> None:
    dirs = sys.argv[1:] or sorted(glob.glob(os.path.join(HERE, "plans", "r*")))
    bad = 0
    for d in dirs:
        for before in sorted(glob.glob(os.path.join(d, "*_before.txt"))):
            name = os.path.basename(before)[: -len("_before.txt")]
            after = os.path.join(d, f"{name}_after.txt")
            if not os.path.exists(after):
                print(f"INFO  {name}: no after capture (examine-only)")
                continue
            tb, ta = _first_add_time(before), _first_add_time(after)
            if tb is None or ta is None:
                print(f"INFO  {name}: uncommitted capture(s)")
            elif tb > ta:
                bad += 1
                print(
                    f"FLAG  {name}: before added {tb - ta}s AFTER the "
                    f"after capture — re-capture from the pre-change "
                    f"commit"
                )
                continue
            nb, na = _normalized(before), _normalized(after)
            r = 1.0 if nb == na else difflib.SequenceMatcher(
                None, nb, na
            ).ratio()
            if r >= 0.98:
                print(
                    f"WARN  {name}: before/after {r:.2%} similar after "
                    f"normalization — stale capture, or a plan-neutral "
                    f"change whose claim must cite jobs/bytes"
                )
    print(f"{'FAIL' if bad else 'OK'}: {bad} flagged capture pair(s)")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
