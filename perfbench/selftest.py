"""Self-test of the benchmark at small input sizes (a few minutes).

    python3 perfbench/selftest.py [workload ...]

Checks that
* BENCHMARK.json names exactly the workloads the benchmark runs, and
  every per-layer metric has its expected effect in ``layers.MOVES``;
* every workload runs, passes its output check, and prints every
  end-to-end metric (untraced) and every per-layer metric (traced),
  with the units BENCHMARK.json gives;
* a corrupted oracle comparison is counted as a failed pass;
* without the engine next to it, the benchmark exits non-zero and
  prints no result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE]

from layers import MOVES  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def expect(cond: bool, what) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")


def bench(args: list[str], cwd: str = ROOT) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=300,
    )
    if p.returncode:
        sys.stderr.write(p.stderr[-3000:])
    return p.returncode, p.stdout.strip().splitlines()


def result(lines: list[str]) -> tuple[dict, dict]:
    out = json.loads(lines[-1])
    expect(set(out) == RESULT_KEYS, out.keys())
    expect(isinstance(out["attempted"], int) and out["attempted"] >= 1, out)
    expect(isinstance(out["failed"], int), out)
    record = json.loads(lines[-2].removeprefix("record: "))
    return out, record


def units(out: dict) -> dict[str, str]:
    return {k: v["unit"] for k, v in out["metrics"].items()}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    expect(names == list(WORKLOADS), names)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    expect(set(layer) == set(MOVES), set(layer) ^ set(MOVES))
    for metric, (moved, wls) in MOVES.items():
        expect(moved in e2e and set(wls) <= set(names), (metric, moved, wls))
    print("BENCHMARK.json matches the benchmark's workloads and layers.MOVES")

    for name in sys.argv[1:] or names:
        common = ["--workload", name, "--seed", "7", "--seconds", "2", "--small"]
        rc, lines = bench(common + ["--trace", "0"])
        expect(rc == 0, f"{name}: exit {rc}")
        out, record = result(lines)
        expect(record["workload"] == name, record["workload"])
        expect(out["correct"] and out["failed"] == 0, (name, record["errors"]))
        expect(units(out) == e2e, out)
        expect(all(v["value"] > 0 for v in out["metrics"].values()), out)
        print(f"{name}: correct, end-to-end metrics {sorted(out['metrics'])}")

        rc, lines = bench(common + ["--trace", "1", "--corrupt-oracle"])
        expect(rc == 0, f"{name}: exit {rc}")
        out, record = result(lines)
        expect(not out["correct"] and out["failed"] >= 1, (name, out))
        expect(units(out) == layer, sorted(out["metrics"]))
        print(
            f"{name}: corrupted oracle counted {out['failed']}/{out['attempted']} "
            f"failed; {len(out['metrics'])} per-layer metrics"
        )

    # Only BENCHMARK.json and perfbench/: no engine to import.
    bare = os.path.join(HERE, ".work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(
        HERE,
        os.path.join(bare, "perfbench"),
        ignore=shutil.ignore_patterns(".work", ".cache", "__pycache__"),
    )
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    rc, lines = bench(["--workload", names[0], "--seed", "1", "--seconds", "1"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    expect(rc != 0 and not any(ln.startswith("{") for ln in lines), (rc, lines))
    print(f"without the engine: exit {rc}, no result printed")
    print("selftest OK")
    return 0


if __name__ == "__main__":
    sys.exit(main())
