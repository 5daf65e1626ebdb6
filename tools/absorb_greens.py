"""Print (or apply) the up-to-date DRIVER_GREEN_ROUND dict from
CORRECTNESS_r*.json.

Round-start chore (see registry.py): after the driver writes
CORRECTNESS_r{N}.json, every newly-green query must be absorbed into
registry.DRIVER_GREEN_ROUND (the ledger guard test fails loudly until it
is). Default prints the complete replacement dict — paste it over the
old one, grouped by round for readability. ``--apply`` rewrites
registry.py in place instead: the DRIVER_GREEN_ROUND block is replaced
wholesale (re-run the ledger guard test afterwards; review the diff like
any edit).

Usage: python tools/absorb_greens.py [--apply]
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _render_dict(latest: dict[str, int]) -> str:
    lines = ["DRIVER_GREEN_ROUND = {"]
    by_round: dict[int, list[str]] = {}
    for name, rnd in latest.items():
        by_round.setdefault(rnd, []).append(name)
    for rnd in sorted(by_round):
        names = sorted(by_round[rnd])
        lines.append(f"    # latest green: round {rnd} ({len(names)})")
        line = "   "
        for name in names:
            tok = f' "{name}": {rnd},'
            if len(line) + len(tok) > 79:
                lines.append(line)
                line = "   "
            line += tok
        if line.strip():
            lines.append(line)
    lines.append("}")
    return "\n".join(lines)


def _apply(latest: dict[str, int]) -> None:
    """Rewrite registry.py: swap the DRIVER_GREEN_ROUND block."""
    path = os.path.join(REPO, "machinelearningalgomapreduce_spark", "registry.py")
    src = open(path).read()
    m = re.search(r"^DRIVER_GREEN_ROUND = \{\n.*?^\}$", src, re.M | re.S)
    if not m:
        raise SystemExit("could not locate the DRIVER_GREEN_ROUND block")
    src = src[: m.start()] + _render_dict(latest) + src[m.end():]
    open(path, "w").write(src)
    print(f"# applied to {path}: {len(latest)} entries")


def main() -> None:
    apply_mode = "--apply" in sys.argv[1:]
    latest: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)\.json$", path).group(1))
        data = json.load(open(path))
        for name, row in data.items():
            if (
                isinstance(row, dict)
                and row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match") is not False  # rows-only checks count
            ):
                latest[name] = max(latest.get(name, 0), rnd)

    from machinelearningalgomapreduce_spark.registry import DRIVER_GREEN_ROUND

    new = set(latest) - set(DRIVER_GREEN_ROUND)
    stale = {
        n: (DRIVER_GREEN_ROUND[n], latest[n])
        for n in latest
        if n in DRIVER_GREEN_ROUND and latest[n] > DRIVER_GREEN_ROUND[n]
    }
    print(f"# newly green ({len(new)}): {sorted(new)}\n")
    print(f"# freshened ({len(stale)})\n")

    if apply_mode:
        _apply(latest)
        return
    print(_render_dict(latest))


if __name__ == "__main__":
    main()
