"""Steadiness check: run workloads over several seeds and report, for each
metric, the median, the quartiles and the spread (q3 - q1) / median next
to the bound in BENCHMARK.json.

    python3 perfbench/steady.py --seeds 1-10 [--workloads mutate_commit ...]
        [--trace 1] [--out runs.json] [--compare earlier.json]

Runs are sequential, one process each, from the root of the checkout. A
metric passes when its spread is below a third of its bound (``setup_s``
is exempt, as only its median is compared). ``--compare`` prints each
median's change against an earlier ``--out`` file: the second-set check,
or the tracing overhead when one file is traced and the other not.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_one(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    lines = proc.stdout.strip().splitlines()
    detail = next((json.loads(ln[7:]) for ln in lines if ln.startswith("detail ")), {})
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else {}
    return {"workload": workload, "seed": seed, "trace": trace, "code": proc.returncode,
            "wall_s": time.perf_counter() - t, "result": result, "detail": detail}


def summary(runs: list[dict], key: str) -> dict[str, dict]:
    """Per metric: median, q1, q3, spread over the runs (key: 'metrics' for
    the printed metrics, 'e2e' for the end-to-end figures a traced run
    reports in its detail line)."""
    vals: dict[str, list[float]] = {}
    for r in runs:
        src = r["result"].get("metrics", {}) if key == "metrics" else r["detail"].get("e2e") or {}
        for name, v in src.items():
            vals.setdefault(name, []).append(v["value"] if isinstance(v, dict) else v)
    out = {}
    for name, v in vals.items():
        q1, med, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (v[0],) * 3
        out[name] = {"median": med, "q1": q1, "q3": q3,
                     "spread": (q3 - q1) / med if med else float("inf"), "n": len(v)}
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    ap.add_argument("--compare")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]

    runs = []
    for w in workloads:
        for s in seeds(args.seeds):
            r = run_one(w, s, bench["run_seconds"], args.trace)
            runs.append(r)
            res = r["result"]
            print(f"{w} seed={s} code={r['code']} wall={r['wall_s']:.1f}s "
                  f"correct={res.get('correct')} failed={res.get('failed')}/"
                  f"{res.get('attempted')} canary={r['detail'].get('canary')}", flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(runs, f)
    earlier = []
    if args.compare:
        with open(args.compare) as f:
            earlier = json.load(f)

    ok = all(r["code"] == 0 and r["result"].get("correct") for r in runs)
    key = "e2e" if args.trace else "metrics"
    for w in workloads:
        mine = [r for r in runs if r["workload"] == w]
        walls = [r["wall_s"] for r in mine]
        print(f"\n{w}: {len(mine)} runs, wall median {statistics.median(walls):.1f}s "
              f"max {max(walls):.1f}s")
        base = summary([r for r in earlier if r["workload"] == w],
                       "e2e" if earlier and earlier[0]["trace"] else "metrics")
        for name, st in summary(mine, key).items():
            bound = bounds.get(name)
            steady = bound is None or name == "setup_s" or st["spread"] < bound / 3
            ok &= steady or args.trace == 1
            line = (f"  {name:14s} median {st['median']:.6g}  q1 {st['q1']:.6g}  "
                    f"q3 {st['q3']:.6g}  spread {st['spread']:.3f}  bound {bound}  "
                    f"{'ok' if steady else 'TOO NOISY'}")
            if name in base:
                line += f"  vs earlier median {base[name]['median']:.6g} " \
                        f"({st['median'] / base[name]['median'] - 1:+.3f})"
            print(line)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
