"""Smoke test of the benchmark itself, at toy size.

    python3 perfbench/smoke.py

Run from the root of a checkout; it takes about three minutes, because
each of its four runs starts its own Spark session. It checks that

- every workload prints each end-to-end metric of BENCHMARK.json by name
  and with its unit, with ``correct`` true and no failed op;
- a traced run prints every per-layer metric of BENCHMARK.json;
- a corrupted result is counted as failed: one row dropped from a search
  result, one commit left out of the oracle's live set (both on
  mutate_commit);
- in a directory holding only BENCHMARK.json and the benchmark, the
  command exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload: str, *extra: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--size", "toy", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


def result(lines: list[str]) -> dict:
    return json.loads(lines[-1])


def assert_metrics(lines: list[str], want: dict[str, str]) -> dict:
    res = result(lines)
    got = {n: m["unit"] for n, m in res["metrics"].items()}
    assert got == want, f"metrics {sorted(set(got) ^ set(want))} differ"
    for n, unit in want.items():
        assert any(ln.startswith(f"metric {n} = ") and ln.endswith(f" {unit}") for ln in lines), n
    return res


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}

    code, lines = run("chat_ingest")
    res = assert_metrics(lines, e2e)
    assert code == 0 and res["correct"] and res["failed"] == 0, lines[-3:]
    print("ok   chat_ingest: end-to-end metrics, correct")

    code, lines = run("mutate_commit", "--trace", "1")
    res = assert_metrics(lines, per_layer)
    assert code == 0 and res["correct"], lines[-3:]
    assert res["metrics"]["ann.upsert.jobs"]["value"] > 0
    print("ok   mutate_commit --trace 1: per-layer metrics, correct")

    for corruption in ("drop_row", "skip_commit"):
        code, lines = run("mutate_commit", "--corrupt", corruption)
        res = assert_metrics(lines, e2e)
        assert res["failed"] >= 1 and not res["correct"], (corruption, lines[-3:])
        print(f"ok   mutate_commit --corrupt {corruption}: {res['failed']} failed op(s) counted")

    bare = tempfile.mkdtemp(prefix="perfbench-bare-", dir=os.path.join(ROOT, ".scratch"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        code, lines = run("chat_ingest", cwd=bare)
        assert code != 0 and not (lines and lines[-1].startswith("{")), (code, lines)
        print(f"ok   bare directory: exit {code}, no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
