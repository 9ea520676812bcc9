"""The measured process: one Python client driving one Spark session in a
closed loop, one operation at a time.

    python3 -m enginebench.client --workload W --seed N --data DIR
        --passes P --trace 0|1 --t0 EPOCH --out FILE

It starts the session, runs one cold pass (which ends set-up), then P warm
passes, and writes every latency, result digest and counter to FILE. With
``--trace 1`` it runs P untraced and P traced passes in ABBA-ordered pairs; the
traced ones record spans and Spark counters. Correctness is judged by the
caller against expectations this process never sees.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import time
import traceback
from pathlib import Path


def _du(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file()) if path.exists() else 0


def run_pass(ops, ctx, work: Path, kind: str, index: int, tracer, probe) -> dict:
    """One pass: every operation once, in order. Digests are computed after
    the last operation, so checking stays out of the pass's wall time."""
    from . import workloads

    ctx.pass_dir, ctx.probe = work / f"pass{index}", probe
    workloads.clear_pass_dir(ctx.pass_dir)
    ctx.plan_s, ctx.built_jobs, ctx.streams, ctx.files_read = 0.0, 0, [], 0
    span0 = len(tracer.spans)
    groups, raw, per_op, persisted = set(), [], [], []
    t_pass = time.perf_counter()
    for i, op in enumerate(ops):
        ctx.group = None
        if probe is not None:
            ctx.group = f"eb-{index}-{i}"
            groups.add(ctx.group)
            probe.set_group(ctx.group)
        t0 = time.perf_counter()
        try:
            raw.append(op.run(ctx))
            err = None
        except Exception as e:  # a failed operation is counted, the loop goes on
            raw.append(None)
            err = f"{type(e).__name__}: {e}"[:2000]
            traceback.print_exc()
        per_op.append({"name": op.name, "latency_s": time.perf_counter() - t0, "error": err})
        if probe is not None:
            persisted.append(probe.persisted())
    wall, ended = time.perf_counter() - t_pass, time.time()
    for rec, op, res in zip(per_op, ops, raw):
        if rec["error"] is None:
            try:
                rec["digest"] = op.summarize(res)
            except Exception as e:  # noqa: BLE001 - a result that cannot be digested is wrong
                rec["error"] = f"digest: {type(e).__name__}: {e}"
    written = _du(ctx.pass_dir / "table") + _du(ctx.pass_dir / "playstore_out")
    out = {"kind": kind, "wall_s": wall, "ended": ended, "ops": per_op, "written_bytes": written}
    if probe is not None:
        groups.update(run_id for run_id, *_ in ctx.streams)  # a stream's jobs carry its run id as group
        out["layers"] = _layer_metrics(tracer, span0, ctx, probe, groups, persisted)
    return out


def _layer_metrics(tracer, span0, ctx, probe, groups, persisted) -> dict:
    from .spans import covered, self_times

    spans = tracer.spans[span0:]
    selfs = self_times(tracer.spans, span0)
    by_name: dict[str, float] = {}
    by_layer: dict[str, float] = {}
    total: dict[str, float] = {}
    for s, st in zip(spans, selfs):
        by_name[s.name] = by_name.get(s.name, 0.0) + st
        by_layer[s.layer] = by_layer.get(s.layer, 0.0) + st
        total[s.name] = total.get(s.name, 0.0) + (s.end - s.start)

    def self_of(prefix: str) -> float:
        return sum(v for k, v in by_name.items() if k.startswith(prefix))

    def total_of(*names: str) -> float:
        return sum(total.get(n, 0.0) for n in names)

    m = probe.pass_metrics(groups)
    snapshot_files = _snapshot_files(ctx)
    progress = [p for s in ctx.streams for p in s[3]]
    drained = sum(p.get("numInputRows", 0) for p in progress)
    drain_s = sum(ended - started for _, started, ended, _ in ctx.streams)
    first = []  # per stream: start() called -> first micro-batch done
    for _, started, _, prog in ctx.streams:
        if prog:
            t0 = dt.datetime.fromisoformat(prog[0]["timestamp"].replace("Z", "+00:00")).timestamp()
            first.append(t0 + prog[0]["durationMs"].get("triggerExecution", 0) / 1e3 - started)
    c = tracer.counters
    m.update(
        {
            "sources.load_s": self_of("sources.load_table") + self_of("sources.read_"),
            "sources.memo_hit_frac": _frac(c, "sources.load_memo"),
            "sources.cdf_start_s": sum(first) / len(first) if first else 0.0,
            "sources.cdf_batches": len(progress),
            "sources.cdf_rows_per_s": drained / drain_s if drain_s else 0.0,
            "catalog.build_s": by_layer.get("catalog", 0.0),
            "catalog.eager_jobs": ctx.built_jobs,
            "operators.cached_frames": max(persisted) if persisted else 0,
            "spark.plan_s": ctx.plan_s,
            "streaming.commit_s": total_of(
                "streaming.manifest.write_and_commit_batch", "streaming.manifest.commit_deletes",
                "streaming.manifest.commit_upsert",
            ),
            "streaming.commits": sum(1 for s in spans if s.name == "streaming.manifest.commit_version"),
            "streaming.files_written": _count_files(ctx.pass_dir / "table"),
            "streaming.snapshot_plan_s": total_of("streaming.manifest.read_snapshot_rows"),
            "streaming.files_scanned_frac": (
                ctx.files_read / snapshot_files if snapshot_files else 0.0
            ),
            "playstore.read_csv_s": total_of("playstore.read_playstore_csv"),
            "playstore.schema_memo_hit_frac": _frac(c, "playstore.csv_memo"),
            "playstore.part1_s": total_of("playstore.average_sentiment_polarity_by_app"),
            "playstore.part2_s": total_of("playstore.generate_best_apps_csv"),
            "playstore.part3_s": total_of("playstore.group_by_app_and_standardize"),
            "playstore.part4_s": total_of("playstore.clean_google_play_store_data"),
            "playstore.part5_s": total_of("playstore.get_google_play_store_metrics_by_genre"),
            "playstore.bytes_written": _du(ctx.pass_dir / "playstore_out"),
            "trace.covered_s": covered(tracer.spans, span0),
        }
    )
    for op in ("dedup", "similarity", "graph", "sketches", "bpe"):
        m[f"operators.{op}.self_s"] = self_of(f"operators.{op}.")
    return m


def _frac(counters: dict, key: str) -> float:
    calls = counters.get(f"{key}.calls", 0)
    return counters.get(f"{key}.hits", 0) / calls if calls else 0.0


def _count_files(path: Path) -> int:
    return sum(1 for p in path.rglob("*") if p.is_file() and not p.name.startswith(".")) if path.exists() else 0


def _snapshot_files(ctx) -> int:
    """Parquet data files of the table's current snapshot."""
    table = ctx.pass_dir / "table"
    if not table.exists():
        return 0
    from bigdata_googleplaystore_spark.streaming import manifest as mf

    m = mf.read_manifest(ctx.spark, str(table))
    return sum(
        1 for b in m["batch_ids"] for p in (table / f"_batch_id={b}").glob("*.parquet") if p.is_file()
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--passes", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    import pyspark

    from bigdata_googleplaystore_spark.session import get_spark

    from . import workloads
    from .spans import Patches, SparkProbe, Tracer, jvm_peak_rss_mib

    data = Path(args.data)
    work = data / "work"
    local = data / "spark-local"
    local.mkdir(parents=True, exist_ok=True)
    t_session = time.time()
    spark = get_spark(
        app_name=f"enginebench-{args.workload}",
        extra_conf={
            "spark.local.dir": str(local),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    session_start_s = time.time() - t_session
    try:
        meta = json.loads((data / "inputs.json").read_text())
        ops = workloads.build(args.workload, args.seed, meta["facts"])
        tracer = Tracer()
        ctx = workloads.Ctx(spark, data, tracer)
        passes = [run_pass(ops, ctx, work, "cold", 0, tracer, None)]
        setup_s = passes[0]["ended"] - args.t0
        probe = SparkProbe(spark) if args.trace else None
        patches = Patches(tracer)
        kinds = ["warm"] * args.passes
        if args.trace:  # untraced/traced pairs in ABBA order, so warm-up drift favours neither
            kinds = [k for i in range(args.passes) for k in (("warm", "traced"), ("traced", "warm"))[i % 2]]
        for i, kind in enumerate(kinds, start=1):
            traced = kind == "traced"
            if traced:
                patches.install()
                tracer.enabled = True
            elif probe is not None:
                probe.set_group("eb-untraced")
            try:
                passes.append(run_pass(ops, ctx, work, kind, i, tracer, probe if traced else None))
            finally:
                tracer.enabled = False
                patches.uninstall()
        result = {
            "setup_s": setup_s,
            "session_start_s": session_start_s,
            "passes": passes,
            "jvm_peak_rss_mib": jvm_peak_rss_mib(spark),
            "record": {
                "master": spark.sparkContext.master,
                "driver_heap": spark.sparkContext.getConf().get("spark.driver.memory", "default"),
                "pyspark": pyspark.__version__,
                "java": spark._jvm.System.getProperty("java.version"),
            },
        }
        if args.trace:
            result["spans"] = [s.__dict__ for s in tracer.spans]
        tmp = Path(args.out + ".tmp")
        tmp.write_text(json.dumps(result))
        os.replace(tmp, args.out)
    finally:
        jvm = spark.sparkContext._gateway.proc
        spark.stop()
        # the JVM exits when its stdin closes; wait for it so no process outlives the run
        jvm.stdin.close()
        jvm.wait(timeout=60)


if __name__ == "__main__":
    main()
