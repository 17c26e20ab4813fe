"""Compare two bench JSON lines (e.g. BENCH_r03.json vs a fresh run):
per-query ratios, regressions, totals over the common query set.

Usage: ``python tools/bench_compare.py OLD.json NEW.json [threshold]``
— prints queries whose new/old ratio exceeds ``threshold`` (default
1.25) and the common-set totals. Accepts either a raw bench line or the
driver's wrapper JSON (with the line under ``tail``).
"""

from __future__ import annotations

import json
import re
import sys


def load_queries(path: str) -> dict[str, float]:
    """Per-query timings of one artifact."""
    raw = open(path).read()
    try:
        d = json.loads(raw)
    except json.JSONDecodeError:
        d = json.loads(raw.strip().splitlines()[-1])
    if "queries" in d:
        return d["queries"]
    if isinstance(d.get("parsed"), dict) and "queries" in d["parsed"]:
        return d["parsed"]["queries"]
    # driver wrapper: the bench line is embedded in the "tail" string
    m = re.search(r'\{"(?:metric|queries)".*', d.get("tail", ""))
    if m:
        try:
            line = json.loads(m.group(0).rstrip("\\n").rstrip())
            return line["queries"]
        except (json.JSONDecodeError, KeyError):
            pass
    # tail may be FRONT-truncated (the driver keeps only the last ~2 KB):
    # recover whatever per-query pairs survive
    pairs = re.findall(r'"([a-z0-9_]+)":\s*([0-9.]+)', d.get("tail", ""))
    out = {
        k: float(v)
        for k, v in pairs
        if k not in (
            "value", "sf", "cold_total", "n", "rc", "cpus", "host_mode_factor"
        )
    }
    if not out:
        raise SystemExit(f"{path}: no bench line found")
    return out


def main() -> None:
    old_p, new_p = sys.argv[1], sys.argv[2]
    thresh = float(sys.argv[3]) if len(sys.argv) > 3 else 1.25
    old, new = load_queries(old_p), load_queries(new_p)
    common = sorted(set(old) & set(new))
    t_old = sum(old[q] for q in common)
    t_new = sum(new[q] for q in common)
    print(
        f"common queries: {len(common)}  old={t_old:.1f}s  new={t_new:.1f}s"
        f"  ratio={t_new / t_old:.2f}x"
    )
    only_new = sorted(set(new) - set(old))
    if only_new:
        extra = sum(new[q] for q in only_new)
        print(f"new-only: {len(only_new)} queries, {extra:.1f}s")
    regressions = [
        (new[q] / old[q], q) for q in common if new[q] / old[q] > thresh
    ]
    for r, q in sorted(regressions, reverse=True):
        print(f"  REGRESSION {r:.2f}x  {q}: {old[q]:.3f} -> {new[q]:.3f}")
    if not regressions:
        print(f"no regressions above {thresh}x")


if __name__ == "__main__":
    main()
