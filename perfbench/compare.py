"""Compare two result records written by `run.py`.

    python3 perfbench/compare.py .perfbench_out/result_X_s1.json other/result_X_s1.json

Refuses (exit 2) to compare results taken at different core counts
or of different workloads; otherwise prints each end-to-end metric of
both records and the relative change from the first to the second.
"""

from __future__ import annotations

import json
import sys

from stamp import comparable


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = (json.load(open(p)) for p in argv)
    why = comparable(a, b)
    if why is not None:
        print(f"not comparable: {why}", file=sys.stderr)
        return 2
    for name in sorted(set(a["e2e"]) | set(b["e2e"])):
        va, vb = a["e2e"].get(name), b["e2e"].get(name)
        rel = f"{(vb - va) / va:+.1%}" if va and vb is not None else "n/a"
        print(f"{name:<14} {va!s:>22} {vb!s:>22} {rel:>8}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
