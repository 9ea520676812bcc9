"""Run one workload of the benchmark and print its metrics.

    python3 enginebench/run.py --workload tpch_scaled --seed 1 --seconds 20 --trace 0

Run from the repository root. It generates the seed's inputs (once per
seed), computes the expected results with DuckDB, then starts the measured
client process (enginebench/client.py), checks every result it returned
and prints a board, a run record, and as the last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones. The exit code is
non-zero when any result is wrong or any operation failed.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from enginebench import metrics  # noqa: E402

DATA_ROOT = ROOT / ".enginebench_data"
CORES = 3  # local[3]: nproc - 1 on the 4-core reference host, one core left to the client
DRIVER_MEM = "4g"
# Typical warm pass on the 4-core reference host; the number of warm passes
# is --seconds / this, fixed per workload so every run has the same sample
# count.
NOMINAL_PASS_S = {"tpch_scaled": 5.0, "llm_operators": 9.0, "lakehouse_etl": 9.0}
DEADLINE_S = 175


def _mem_total_kib() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def check(client: dict, expected: dict) -> tuple[int, int, list[str]]:
    """(attempted, failed, problems) over every pass the client ran."""
    from enginebench.checks import matches

    attempted = failed = 0
    problems = []
    for p in client["passes"]:
        for op in p["ops"]:
            attempted += 1
            if op["error"] is not None:
                failed += 1
                problems.append(f"{p['kind']} {op['name']}: {op['error']}")
            elif not matches(op.get("digest"), expected[op["name"]]):
                failed += 1
                problems.append(f"{p['kind']} {op['name']}: wrong result {op.get('digest')}")
    return attempted, failed, problems


def _client(args, data: Path, passes: int, deadline: float) -> dict:
    out = data / f"client-{os.getpid()}.json"
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join([str(ROOT)] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else []))
    env["SPARK_GRAFT_CPUS"] = str(CORES)
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    tmp = data / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env["TMPDIR"] = str(tmp)
    env["SPARK_LOCAL_DIRS"] = str(data / "spark-local")
    cmd = [
        sys.executable, "-m", "enginebench.client", "--workload", args.workload, "--seed", str(args.seed),
        "--data", str(data), "--passes", str(passes), "--trace", str(args.trace),
        "--t0", repr(time.time()), "--out", str(out),
    ]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, 9)
        proc.wait()
        raise SystemExit("client timed out")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, 9)
            proc.wait()
    if code != 0 or not out.exists():
        raise SystemExit(f"client failed with exit code {code}")
    try:
        return json.loads(out.read_text())
    finally:
        out.unlink()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    deadline = time.monotonic() + DEADLINE_S

    if not (ROOT / "bigdata_googleplaystore_spark" / "__init__.py").is_file():
        print(f"package bigdata_googleplaystore_spark not found under {ROOT}", file=sys.stderr)
        return 2

    from enginebench import inputs, workloads

    t = time.perf_counter()
    data, meta = inputs.generate(args.workload, args.seed, DATA_ROOT)
    exp_path = data / "expected.json"
    if exp_path.exists():
        expected = json.loads(exp_path.read_text())
    else:
        expected = workloads.expectations(args.workload, args.seed, data, meta["facts"])
        exp_path.with_suffix(".tmp").write_text(json.dumps(expected))
        os.replace(exp_path.with_suffix(".tmp"), exp_path)
    prepare_s = time.perf_counter() - t

    passes = max(2, round(args.seconds / NOMINAL_PASS_S[args.workload]))
    try:
        client = _client(args, data, passes, deadline)
    finally:
        for d in ("work", "spark-local", "tmp"):
            shutil.rmtree(data / d, ignore_errors=True)

    attempted, failed, problems = check(client, expected)
    for line in problems[:20]:
        print(f"# FAILED {line}", file=sys.stderr)
    input_bytes = sum(f["bytes"] for f in meta["files"].values())
    e2e = metrics.end_to_end(client, input_bytes)

    import duckdb

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "warm_passes": passes,
        "inputs": meta["files"],
        "input_bytes": input_bytes,
        "prepare_s": prepare_s,
        "nproc": os.cpu_count(),
        "mem_total_kib": _mem_total_kib(),
        "master": client["record"]["master"],
        "driver_heap": client["record"]["driver_heap"],
        "pyspark": client["record"]["pyspark"],
        "java": client["record"]["java"],
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
        # the reference checkout sits beside the test data when present
        "reference_present": (inputs.testdata_root().parent / "reference").is_dir(),
    }
    print("# record " + json.dumps(record, sort_keys=True))
    w = args.workload
    for name, (unit, _) in metrics.END_TO_END.items():
        print(f"# {w} {name} = {e2e[name]:.6g} {unit}")
    print(f"# {w} op_tail_s is p{e2e['op_tail_percentile']:.1f} of {e2e['op_samples']} operation latencies")
    warm = [p for p in client["passes"] if p["kind"] == "warm"]
    walls = " ".join(f"{p['wall_s']:.3f}" for p in client["passes"][1:])
    print(f"# {w} pass walls: cold {client['passes'][0]['wall_s']:.3f} s, then {walls} s")
    for i, op in enumerate(warm[0]["ops"]):
        lat = " ".join(f"{p['ops'][i]['latency_s']:.3f}" for p in warm)
        print(f"# {w} op {op['name']}: cold {client['passes'][0]['ops'][i]['latency_s']:.3f} s, warm {lat} s")
    print(f"# {w} failed_frac = {failed / attempted:.6g} ({failed} of {attempted} operations)")

    if args.trace:
        layers = metrics.per_layer(client)
        for name, (unit, _, moves) in metrics.PER_LAYER.items():
            print(f"# {w} {name} = {layers[name]:.6g} {unit}  -> {moves}")
        values = {n: (layers[n], metrics.PER_LAYER[n][0]) for n in metrics.PER_LAYER}
        spans_path = data / "spans.json"
        spans_path.write_text(json.dumps(client.get("spans", [])))
        print(f"# {w} spans written to {spans_path.relative_to(ROOT)}")
    else:
        values = {n: (e2e[n], unit) for n, (unit, _) in metrics.END_TO_END.items()}

    correct = failed == 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {n: {"value": v, "unit": u} for n, (v, u) in values.items()},
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
