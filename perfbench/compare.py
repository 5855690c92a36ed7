"""Compare two sets of benchmark records (``perfbench/.work/records/*.json``).

    python3 perfbench/compare.py BASE.json [BASE2.json ...] -- NEW.json [NEW2.json ...]

Per end-to-end metric: each side's median, the change as a share of the
base median, and whether it stays within the metric's bound. Refuses
(exit 2) when the records' host fingerprints differ or they mix
workloads: timings from different hosts, widths or versions are not
comparable.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


class Incomparable(ValueError):
    pass


def load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p, encoding="utf-8") as f:
            out.append(json.load(f))
    return out


def diff(base: list[dict], new: list[dict], metrics: list[dict]) -> list[dict]:
    recs = base + new
    fps = {json.dumps(r["fingerprint"], sort_keys=True) for r in recs}
    if len(fps) != 1:
        raise Incomparable(f"host fingerprints differ: {sorted(fps)}")
    if len({r["workload"] for r in recs}) != 1:
        raise Incomparable("records mix workloads")
    rows = []
    for m in metrics:
        a = [r["metrics"][m["name"]] for r in base if m["name"] in r["metrics"]]
        b = [r["metrics"][m["name"]] for r in new if m["name"] in r["metrics"]]
        if not a or not b:
            continue
        ma, mb = statistics.median(a), statistics.median(b)
        change = (mb - ma) / ma if ma else 0.0
        worse = change if m["better"] == "lower" else -change
        bound = m.get("bound")
        rows.append({"metric": m["name"], "unit": m["unit"], "base": ma, "new": mb,
                     "change": change, "bound": bound,
                     "verdict": "-" if bound is None else ("ok" if worse <= bound else "WORSE")})
    return rows


def main(argv: list[str]) -> int:
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    cut = argv.index("--")
    with open(os.path.join(HERE, "metrics.json"), encoding="utf-8") as f:
        metrics = json.load(f)["end_to_end"]
    try:
        rows = diff(load(argv[:cut]), load(argv[cut + 1:]), metrics)
    except Incomparable as ex:
        print(f"refusing to compare: {ex}", file=sys.stderr)
        return 2
    for r in rows:
        print(f"{r['metric']:<18} {r['base']:>12.4f} -> {r['new']:>12.4f} {r['unit']:<5} "
              f"{r['change']:+8.1%}  bound {r['bound'] if r['bound'] is not None else '-':<5} {r['verdict']}")
    return 1 if any(r["verdict"] == "WORSE" for r in rows) else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
