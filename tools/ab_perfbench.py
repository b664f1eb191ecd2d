"""Interleaved same-host A/B of one perfbench workload on two checkouts.

    python3 tools/ab_perfbench.py --a /path/to/base --b . \\
        --workload ingest_stream --seeds 1 2 3 4 5 6 --seconds 10

For each seed it runs ``perfbench/run.py`` once in each checkout, one
run at a time, A first in the first, third, ... pair and B first in the
others, so a slow drift of a shared host falls on both sides alike. It then
prints, per metric, the median and interquartile range of each side,
the median of the per-pair ratios B/A and in how many pairs B was
better, with the host's cores and memory. ``--trace 1`` compares the
per-layer metrics instead of the end-to-end ones. Every run's last
stdout line is appended to ``--out`` as one JSON line with its side and
seed. The checkouts are only read and run, never changed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One ``perfbench/run.py`` run from the root of ``checkout`` → its
    result line (``{"correct", "attempted", "failed", "metrics"}``)."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    proc = subprocess.run(
        cmd, cwd=checkout, capture_output=True, text=True, check=False
    )
    lines = [line for line in proc.stdout.splitlines() if line.startswith("{")]
    if proc.returncode != 0 or not lines:
        raise RuntimeError(
            f"{checkout}: perfbench exited {proc.returncode}\n{proc.stderr[-2000:]}"
        )
    return json.loads(lines[-1])


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3), inclusive method; one value is its own IQR."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def better_direction(checkout: str) -> dict[str, str]:
    """metric name → ``"lower"``/``"higher"`` from the checkout's
    ``BENCHMARK.json``; a metric it does not list counts as lower."""
    try:
        with open(os.path.join(checkout, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
    except OSError:
        return {}
    return {
        m["name"]: m.get("better", "lower")
        for key in ("end_to_end", "per_layer")
        for m in bench.get(key, [])
    }


def host() -> str:
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{len(os.sched_getaffinity(0))} cores, {kb // 1024} MB RAM"


def report(pairs: list[tuple[int, dict, dict]], better: dict[str, str]) -> list[str]:
    """One line per metric over the ``(seed, a, b)`` result pairs."""
    names = sorted(pairs[0][1]["metrics"])
    out = [
        f"{'metric':44} {'A median [IQR]':>24} {'B median [IQR]':>24} "
        f"{'B/A':>6} {'B wins':>7}"
    ]
    for name in names:
        a = [p[1]["metrics"][name]["value"] for p in pairs]
        b = [p[2]["metrics"][name]["value"] for p in pairs]
        if any(v is None for v in a + b):
            continue
        lower = better.get(name, "lower") == "lower"
        wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
        ratios = [y / x for x, y in zip(a, b) if x]
        ratio = f"{statistics.median(ratios):6.3f}" if ratios else "     -"
        qa, qb = quartiles(a), quartiles(b)
        out.append(
            f"{name:44} {qa[1]:10.3f} [{qa[0]:.3f}, {qa[2]:.3f}] "
            f"{qb[1]:10.3f} [{qb[0]:.3f}, {qb[2]:.3f}] {ratio} "
            f"{wins:>3}/{len(pairs)}"
        )
    fails = [
        f"seed {s}: A failed {a['failed']}/{a['attempted']}, "
        f"B failed {b['failed']}/{b['attempted']}"
        for s, a, b in pairs
        if a["failed"] or b["failed"] or not (a["correct"] and b["correct"])
    ]
    return out + (fails or ["0 failed ops on both sides"])


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--a", required=True, help="checkout A (the base)")
    ap.add_argument("--b", required=True, help="checkout B (the change)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default=None, help="JSON-lines file of raw results")
    args = ap.parse_args(argv)

    sides = {"A": os.path.abspath(args.a), "B": os.path.abspath(args.b)}
    pairs = []
    for i, seed in enumerate(args.seeds):
        order = ("A", "B") if i % 2 == 0 else ("B", "A")
        got = {}
        for side in order:
            got[side] = run_once(
                sides[side], args.workload, seed, args.seconds, args.trace
            )
            print(
                f"seed {seed} {side}: "
                + " ".join(
                    f"{k}={v['value']}" for k, v in sorted(got[side]["metrics"].items())
                    if not args.trace
                ),
                flush=True,
            )
            if args.out:
                with open(args.out, "a") as fh:
                    fh.write(json.dumps({"side": side, "seed": seed, **got[side]}) + "\n")
        pairs.append((seed, got["A"], got["B"]))
    print(f"# {args.workload}, {len(pairs)} interleaved pairs, host: {host()}")
    print(f"# A = {sides['A']}\n# B = {sides['B']}")
    print("\n".join(report(pairs, better_direction(sides["B"]))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
