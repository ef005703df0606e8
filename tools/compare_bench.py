#!/usr/bin/env python3
"""Compare two bench artifacts (builder's r21 vs driver's r20): per-query
wall medians (noisy) and shuffle-write bytes (bit-stable plan property).

Usage: python3 tools/compare_bench.py BENCH_r20.json bench/r21.json
The first file is the driver artifact ({"parsed": {...}}), the second the
builder artifact (the bare JSON line Bench emits).
"""
import json, sys, math

prev_raw = json.load(open(sys.argv[1]))
prev = prev_raw.get("parsed", prev_raw)
now = json.load(open(sys.argv[2]))

def table(field, label, fmt, min_abs, ratio_gate):
    p, n = prev.get(field, {}), now.get(field, {})
    common = sorted(set(p) & set(n))
    ups, downs = [], []
    for k in common:
        a, b = p[k], n[k]
        if a is None or b is None or max(a, b) < min_abs or a == 0:
            continue
        r = b / a
        if r >= ratio_gate:
            ups.append((r, k, a, b))
        elif r <= 1 / ratio_gate:
            downs.append((r, k, a, b))
    print(f"== {label}: {len(common)} common keys")
    for title, rows in (("UP (check these)", sorted(ups, reverse=True)),
                        ("DOWN (wins)", sorted(downs))):
        print(f"-- {title}: {len(rows)}")
        for r, k, a, b in rows[:25]:
            print(f"   {k:38s} {fmt(a):>12s} -> {fmt(b):>12s}  x{r:.2f}")
    return common

def geomean(field):
    p, n = prev.get(field, {}), now.get(field, {})
    rs = [p[k] / n[k] for k in set(p) & set(n) if n.get(k, 0) > 0 and p.get(k, 0) > 0]
    return math.exp(sum(math.log(r) for r in rs) / len(rs)) if rs else float("nan")

fb = lambda v: f"{v/1e6:.2f}MB" if v >= 1e6 else f"{v/1e3:.0f}KB"
fs = lambda v: f"{v:.2f}s"
table("shuffle_write_prod", "prod shuffle write (>=100KB, x1.3 gate)", fb, 100_000, 1.3)
table("shuffle_write", "oracle shuffle write (>=100KB, x1.3 gate)", fb, 100_000, 1.3)
table("queries", "oracle wall medians (>=1s, x1.5 gate — NOISY)", fs, 1.0, 1.5)
def total(art, key):
    """A total as "12.3", or "n/a" when an artifact does not carry it."""
    v = art.get(key)
    return f"{v:.1f}" if isinstance(v, (int, float)) else "n/a"

print(f"totals: oracle {total(prev, 'value')} -> {total(now, 'value')} s, "
      f"prod {total(prev, 'total_prod')} -> {total(now, 'total_prod')} s")
print(f"geomean speedup (prev/now): oracle wall x{geomean('queries'):.3f}, "
      f"prod wall x{geomean('queries_prod'):.3f}")
