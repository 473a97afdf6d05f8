"""Long parity run of the PSV tidy chain against its frozen reference.

Draws ``--cases`` token-stuffed documents from the generator of
``tests/test_psv_parity.py`` (seeded by ``--seed``) and checks that
``tidy_lines`` and ``normalize_text_psv`` equal the per-line chain in
``tests/psv_reference.py`` on every one. Prints the case count, the
mismatch count and the first mismatching input; exits 1 on any
mismatch.

Usage: python tools/psv_parity.py [--cases 100000] [--seed 1]
"""

import argparse
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path[:0] = [str(ROOT), str(ROOT / "tests")]

from test_psv_parity import fuzz_cases, mismatch  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--cases", type=int, default=100_000)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    bad, first = 0, None
    for text, lines in fuzz_cases(args.cases, args.seed):
        which = mismatch(text, lines)
        if which:
            bad += 1
            first = first or (which, text, lines)
    print(f"cases {args.cases}")
    print(f"mismatches {bad}")
    if first:
        which, text, lines = first
        print(f"first mismatch in {which}: text={text!r} lines={lines!r}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
