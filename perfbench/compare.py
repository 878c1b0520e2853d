"""Compare two sets of benchmark records.

    python3 perfbench/compare.py BASE NEW

BASE and NEW are record files or directories of them (as written to
`.bench_build/perfbench/records/` by run.py). Records are paired by
(workload, seed, trace); a pair whose cpu counts differ is refused, and
so is a pair stamped with different seeds. For every metric the
script prints the median over the pairs of each side and the ratio
NEW/BASE.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys


def load(path: str) -> list[dict]:
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    out = []
    for f in files:
        with open(f) as fh:
            out.append(json.load(fh))
    return out


def pair(base: list[dict], new: list[dict]) -> list[tuple[dict, dict]]:
    def key(r):
        s = r["stamp"]
        return (s["workload"], s["seed"], s["trace"])

    by_key = {key(r): r for r in base}
    pairs = []
    for r in new:
        b = by_key.get(key(r))
        if b is None:
            continue
        sb, sn = b["stamp"], r["stamp"]
        if sb["cpus"] != sn["cpus"] or sb["seed"] != sn["seed"]:
            raise SystemExit(
                f"refusing to pair {key(r)}: cpus {sb['cpus']} vs {sn['cpus']}, "
                f"seed {sb['seed']} vs {sn['seed']}"
            )
        pairs.append((b, r))
    return pairs


def main() -> None:
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    pairs = pair(load(sys.argv[1]), load(sys.argv[2]))
    if not pairs:
        raise SystemExit("no records pair up by (workload, seed, trace)")
    groups: dict[tuple[str, int], list[tuple[dict, dict]]] = {}
    for b, n in pairs:
        groups.setdefault((b["stamp"]["workload"], b["stamp"]["trace"]), []).append((b, n))
    for (workload, trace), ps in sorted(groups.items()):
        section = "layers" if trace else "e2e"
        print(f"{workload} ({'per-layer' if trace else 'end-to-end'}, {len(ps)} pairs)")
        for m in ps[0][0][section]:
            xb = statistics.median(b[section][m] for b, _ in ps)
            xn = statistics.median(n[section][m] for _, n in ps)
            ratio = f"{xn / xb:8.3f}" if xb else "       -"
            print(f"  {m:32s} {xb:14.4f} {xn:14.4f} {ratio}")


if __name__ == "__main__":
    main()
