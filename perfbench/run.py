"""Flagship-job benchmark: ``run_pipeline`` as ``jobs/scrub_job.py`` ships it.

    python3 perfbench/run.py --workload decisions_web --seed 1 \
        --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20

One closed-loop client runs one job at a time at ``local[nproc]``, from a
single driver process.  With ``--trace 0`` the run reports the end-to-end
metrics from untraced jobs; with ``--trace 1`` it reports the per-layer
split (``layers.py``).  The last line of standard output is one JSON object
with the keys ``correct``, ``attempted``, ``failed`` and ``metrics``; the
line before it is a compact headline.  The full result, with every job and
the span list, is written to ``.perfbench/results/``, and everything a run
writes stays under ``.perfbench/`` in the checkout.  ``README.md`` next to
this file describes the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import ROOT, WORKLOADS, ensure_tables  # noqa: E402

END_TO_END = {
    "rows_per_s": "rows/s",
    "setup_s": "s",
    "output_bytes_per_row": "B/row",
    "failed_row_share": "ratio",
    "privacy_leak_rows": "count",
    "keep_f1": "ratio",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(WORKLOADS) + ["all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # Row-count multiplier, for the benchmark's own smoke test only.
    p.add_argument("--scale", type=float, default=1.0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def measure_jobs(spark, w, tables, seconds: float, out_base: str) -> list:
    """Closed loop: jobs back to back until ``seconds`` have passed (at
    least one), each job's output checked before the next one replaces it
    in ``out_base/job``."""
    import job

    results = []
    out = os.path.join(out_base, "job")
    t_end = time.perf_counter() + seconds
    while not results or time.perf_counter() < t_end:
        r = job.run_job(spark, w, tables.images, out)
        if r.raised:
            r.errors.append(f"job raised {r.raised}")
        else:
            r.checks, errs = job.check_output(w, tables.labels, out,
                                              tables.rows)
            r.errors += errs
        results.append(r)
    return results


def end_to_end(tables, jobs: list, setup_s: float) -> tuple[dict, dict]:
    import job

    ok = [r for r in jobs if not r.raised]
    attempted_rows = tables.rows * len(jobs)
    # a job that raised has no checks and counts all its rows failed
    failed = [r.checks.get("rows_failed", tables.rows) for r in jobs]
    leaked = max((r.checks.get("rows_leaked", 0) for r in ok), default=0)
    rates = [r.rows / r.wall_s for r in ok] or [0.0]
    sizes = [r.bytes / tables.rows for r in ok] or [0.0]
    detail = {
        "rows_per_s": job.quartiles(rates),
        "output_bytes_per_row": job.quartiles(sizes),
        "job_wall_s": job.quartiles([r.wall_s for r in jobs]),
        "rows_attempted": attempted_rows,
        "rows_failed": sum(failed),
        "rows_leaked": leaked,
    }
    # The two defect counts are taken from the run's worst job, so they do
    # not depend on how many jobs fit in the run, and carry a one-row floor,
    # (k + 1) / (n + 1) and k + 1, so that they are never 0 and a relative
    # bound on them is defined; the raw counts are in the detail.
    values = {
        "rows_per_s": statistics.median(rates),
        "setup_s": setup_s,
        "output_bytes_per_row": statistics.median(sizes),
        "failed_row_share": (max(failed) + 1) / (tables.rows + 1),
        "privacy_leak_rows": leaked + 1,
        "keep_f1": min((r.checks.get("keep_f1", 0.0) for r in ok),
                       default=0.0),
    }
    return values, detail


def headline(name: str, metrics: dict) -> str:
    parts = [f"{k}={v['value']:.6g} {v['unit']}" for k, v in metrics.items()]
    return f"{name}: " + ", ".join(parts)


def run_all(args) -> int:
    """Every workload in turn, each in its own process."""
    lines, merged = [], {"correct": True, "attempted": 0, "failed": 0,
                         "metrics": {}}
    for name in sorted(WORKLOADS):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--scale", str(args.scale)]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                              text=True, timeout=900)
        out = proc.stdout.strip().splitlines()
        if proc.returncode or not out:
            print(f"perfbench: {name} exited {proc.returncode}",
                  file=sys.stderr)
            return proc.returncode or 1
        res = json.loads(out[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            merged["metrics"][f"{name}.{k}"] = v
        lines.append(headline(name, res["metrics"]))
    print("\n".join(lines))
    print(json.dumps(merged))
    return 0


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "pii_redactor_spark")) or \
            not os.path.isfile(os.path.join(ROOT, "jobs", "scrub_job.py")):
        print("perfbench: pii_redactor_spark/ and jobs/scrub_job.py must sit "
              "next to perfbench/", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench")
    import job

    job.prepare_env(work)
    w = WORKLOADS[args.workload]
    rows = max(int(w.rows * args.scale), 200)
    cores = nproc()
    t0 = time.perf_counter()
    tables, generated = ensure_tables(work, w, args.seed, rows, cores)
    gen_s = time.perf_counter() - t0
    out_base = os.path.join(work, "out")
    shutil.rmtree(out_base, ignore_errors=True)

    full = {"workload": w.name, "seed": args.seed, "rows": rows,
            "cores": cores, "seconds": args.seconds, "trace": args.trace,
            "driver_memory": job.DRIVER_MEMORY, "generate_s": gen_s,
            "generated": generated, "confs": job.job_confs()}
    errors: list[str] = []
    # Flush the freshly generated tables and the warm-up output, so the
    # kernel's write-back does not land inside the timed job.
    os.sync()
    spark, setup_s = job.setup_once(work, w, tables, cores)
    os.sync()
    if args.trace == 0:
        jobs = measure_jobs(spark, w, tables, args.seconds, out_base)
        if w.materialize and not jobs[-1].raised:
            n, bad = job.integrity_sample(spark, tables.labels,
                                          tables.images,
                                          os.path.join(out_base, "job"),
                                          args.seed)
            full["integrity"] = {"checked": n, "not_ok": bad}
            if bad or not n:
                errors.append(f"verify_integrity: {bad} of {n} rows not ok")
        spark.stop()
        values, detail = end_to_end(tables, jobs, setup_s)
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in END_TO_END.items()}
        full["end_to_end"] = detail
    else:
        import layers

        per_layer, traced, traced_job = layers.traced_run(
            spark, work, w, tables, cores)
        jobs = [traced_job]
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u) in per_layer.items()}
        full["traced"] = traced
    for r in jobs:
        errors += r.errors
    full["jobs"] = [vars(r) for r in jobs]
    full["errors"] = errors
    job.stop_processes()
    full["metrics"] = metrics
    full["run_s"] = time.perf_counter() - t_start
    shutil.rmtree(out_base, ignore_errors=True)

    res_dir = os.path.join(work, "results")
    os.makedirs(res_dir, exist_ok=True)
    path = os.path.join(
        res_dir, f"{w.name}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(full, f, indent=1, default=str)
    for e in errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    result = {
        "correct": not errors,
        "attempted": len(jobs),
        "failed": sum(1 for r in jobs if r.raised or r.errors),
        "metrics": metrics,
    }
    print(f"full result: {os.path.relpath(path, ROOT)}")
    print(headline(w.name, metrics) if args.trace == 0 else
          f"{w.name}: {len(metrics)} per-layer metrics, see the full result")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
