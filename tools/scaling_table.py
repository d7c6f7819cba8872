"""Build the 32c-vs-8c scaling table from two bench JSON lines (r15 item 7).

Usage: python tools/scaling_table.py <bench_32c.json> <bench_8c.json>

Both inputs are the one-line JSON that bench.py prints (or a file whose
last line is that JSON). Emits a markdown table of per-query seconds and
the 8c/32c ratio, sorted by 32c seconds descending, plus geomean ratios
for the heavy (>3 s at 32c) and light buckets. A ratio near 4 on a
CPU-bound query means perfect core scaling; near 1 means the wall is
fixed (session/driver) cost at this scale factor.
"""

import json
import math
import sys


def _load(path: str) -> dict:
    with open(path) as f:
        return json.loads(f.read().strip().splitlines()[-1])


# Floor for timings before ratios and logs: a sub-millisecond query rounds
# to 0.0 s in the bench JSON.
MIN_SEC = 0.001


def main() -> None:
    c32, c8 = _load(sys.argv[1]), _load(sys.argv[2])
    q32 = {k: max(v, MIN_SEC) for k, v in c32["queries"].items()}
    q8 = {k: max(v, MIN_SEC) for k, v in c8["queries"].items()}
    common = sorted(set(q32) & set(q8), key=lambda k: -q32[k])
    print(f"| query | 32c sec | 8c sec | 8c/32c |")
    print(f"|---|---|---|---|")
    heavy, light = [], []
    for k in common:
        r = q8[k] / q32[k]
        (heavy if q32[k] > 3.0 else light).append(r)
        print(f"| {k} | {q32[k]:.2f} | {q8[k]:.2f} | {r:.2f} |")
    gm = lambda xs: math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else float("nan")
    print()
    print(f"total 32c={c32['value']:.1f}s 8c={c8['value']:.1f}s "
          f"ratio={max(c8['value'], MIN_SEC) / max(c32['value'], MIN_SEC):.2f}")
    print(f"geomean ratio: heavy(>3s@32c, n={len(heavy)})={gm(heavy):.2f}  "
          f"light(n={len(light)})={gm(light):.2f}  all={gm(heavy+light):.2f}")


if __name__ == "__main__":
    main()
