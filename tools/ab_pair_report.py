"""Paired-A/B ledger analyzer (VERDICT r15 item 1).

Reads one or more history.jsonl ledgers, selects rows by tag prefix pairs
(e.g. r16ab_head_p* vs r16ab_base_p*), and prints:

- per-run totals with load1_start (the +-2 matched-load protocol check);
- per-pair total-wall ratios (head/base), split by run order;
- for wall (``queries``), summed executorRunTime (``queries_exec``) and
  summed executorCpuTime (``queries_cpu``): per-query median and
  min-of-series per side and the head/base ratios of both statistics.
  Queries missing from either side's series are skipped.

Usage:
    python tools/ab_pair_report.py HEAD_PREFIX BASE_PREFIX LEDGER [LEDGER2 ...]
"""

from __future__ import annotations

import json
import statistics
import sys


def load(prefix: str, paths: list[str]) -> list[dict]:
    rows = []
    for p in paths:
        try:
            with open(p) as fh:
                for line in fh:
                    try:
                        d = json.loads(line)
                    except ValueError:
                        continue
                    if d.get("tag", "").startswith(prefix):
                        rows.append(d)
        except OSError:
            continue
    rows.sort(key=lambda d: d["ts"])
    return rows


def main() -> int:
    head_prefix, base_prefix = sys.argv[1], sys.argv[2]
    ledgers = sys.argv[3:]
    head = load(head_prefix, ledgers)
    base = load(base_prefix, ledgers)
    if not head or not base:
        print(f"missing rows: head={len(head)} base={len(base)}")
        return 1

    print("== runs ==")
    for r in sorted(head + base, key=lambda d: d["ts"]):
        print(
            f"  {r['tag']:>18} total {r['value']:7.3f}s "
            f"load1_start {r.get('load1_start', -1):5.2f}"
        )
    loads = [r.get("load1_start", 0.0) for r in head + base]
    print(
        f"load1_start band: [{min(loads):.2f}, {max(loads):.2f}] "
        f"(width {max(loads) - min(loads):.2f}; protocol wants <= 2)"
    )

    # pair rows by the trailing _pN token
    def by_pair(rows):
        out = {}
        for r in rows:
            out[r["tag"].rsplit("_p", 1)[-1]] = r
        return out

    hp, bp = by_pair(head), by_pair(base)
    print("\n== per-pair total-wall ratios (head/base) ==")
    ratios = []
    for k in sorted(set(hp) & set(bp), key=int):
        h, b = hp[k], bp[k]
        order = "head-first" if h["ts"] < b["ts"] else "base-first"
        ratio = h["value"] / b["value"]
        ratios.append((order, ratio))
        print(f"  p{k} ({order}): {h['value']:.3f} / {b['value']:.3f} = {ratio:.3f}")
    for order in ("head-first", "base-first"):
        sel = [r for o, r in ratios if o == order]
        if sel:
            print(f"  median {order}: {statistics.median(sel):.3f} (n={len(sel)})")
    print(f"  median all: {statistics.median([r for _, r in ratios]):.3f}")

    names = list(head[0]["queries"].keys())

    def series(rows, key):
        return {
            n: [r[key][n] for r in rows if r.get(key, {}).get(n, -1) >= 0]
            for n in names
        }

    for key in ("queries", "queries_exec", "queries_cpu"):
        print(f"\n== {key}: per-query median-of-runs and min-of-series ==")
        hq, bq = series(head, key), series(base, key)
        print(f"{'query':>28} {'h_med':>7} {'b_med':>7} {'ratio':>6}  {'h_min':>7} {'b_min':>7} {'ratio':>6}")
        tot = [0.0, 0.0, 0.0, 0.0]
        for n in names:
            if not hq[n] or not bq[n]:
                continue
            hm, bm = statistics.median(hq[n]), statistics.median(bq[n])
            hmin, bmin = min(hq[n]), min(bq[n])
            tot[0] += hm; tot[1] += bm; tot[2] += hmin; tot[3] += bmin
            print(
                f"{n:>28} {hm:7.3f} {bm:7.3f} {hm/bm:6.2f}  "
                f"{hmin:7.3f} {bmin:7.3f} {hmin/bmin:6.2f}"
            )
        if tot[1] and tot[3]:
            print(
                f"{'TOTAL':>28} {tot[0]:7.3f} {tot[1]:7.3f} {tot[0]/tot[1]:6.2f}  "
                f"{tot[2]:7.3f} {tot[3]:7.3f} {tot[2]/tot[3]:6.2f}"
            )
    return 0


if __name__ == "__main__":
    sys.exit(main())
