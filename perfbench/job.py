"""The flagship job as shipped, and the checks on its output.

The session takes its SQL confs from the ``.config(...)`` calls in
``jobs/scrub_job.py`` (read with ``ast``, so the benchmark follows the job
when the job's confs change) plus the deployment settings the job leaves to
spark-submit: master ``local[nproc]``, driver memory, and scratch
directories inside the checkout.  ``session.get_spark`` is not used: its
zstd codec, 8g driver and shuffle-partition settings are not what the job
ships with.
"""

from __future__ import annotations

import ast
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from workloads import ROOT, Workload

DRIVER_MEMORY = "4g"


def job_confs() -> list[tuple[str, str]]:
    with open(os.path.join(ROOT, "jobs", "scrub_job.py")) as f:
        tree = ast.parse(f.read())
    confs = []
    for node in ast.walk(tree):
        if (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "config"
                and len(node.args) == 2
                and all(isinstance(a, ast.Constant) for a in node.args)):
            confs.append((str(node.args[0].value), str(node.args[1].value)))
    if not confs:
        raise RuntimeError("no .config(...) calls found in jobs/scrub_job.py")
    return confs


def prepare_env(work: str) -> None:
    """Point every scratch location of the driver, the JVM and the Python
    workers into ``work`` before the JVM starts."""
    import sys

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    paths = [ROOT, os.path.join(ROOT, "perfbench")] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    import tempfile

    tempfile.tempdir = tmp


def build_session(work: str, cores: int):
    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName("pii-scrub").master(f"local[{cores}]")
    for k, v in job_confs():
        b = b.config(k, v)
    b = (
        b.config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.showConsoleProgress", "false")
        # C1 only: with the default tiered JIT the C2 compiler threads
        # compete with the Python workers for the cores for a minute or
        # more, and each job of a run is faster than the one before it.
        # With C1 alone the JVM is warm after set-up.  See README.md.
        .config("spark.driver.extraJavaOptions",
                "-XX:-UsePerfData -XX:TieredStopAtLevel=1 "
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                f"-Dderby.system.home={os.path.join(work, 'tmp')}")
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_processes() -> None:
    """Stop the JVM that pyspark launched, and the multiprocessing resource
    tracker the spawn pools started, and wait until both have exited.  Call
    after every session is stopped."""
    from multiprocessing import resource_tracker

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        # the gateway JVM exits when its stdin closes
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)
    resource_tracker._resource_tracker._stop()


def job_kwargs(w: Workload) -> dict:
    """``run_pipeline`` arguments as ``jobs/scrub_job.py`` builds them from
    its CLI defaults, with ``--toxicity-blocklist`` set to the default
    blocklist and ``--image-quality`` when the workload has its gates on."""
    from pii_redactor_spark.functions.toxicity import (
        DEFAULT_BLOCKLIST,
        ToxicityConfig,
    )
    from pii_redactor_spark.operators.scrub import ScrubConfig
    from pii_redactor_spark.operators.vision import ImageQualityConfig

    kw = dict(
        prefixes_per_commit=64,
        salt_partitions=None,
        materialize_bytes=w.materialize,
        scrub_cfg=ScrubConfig(confidence_threshold=0.5,
                              replacement="[REDACTED]", preserve_format=True),
        toxicity=None,
        image_quality=None,
        scrub_metadata=w.materialize,
    )
    if w.gates:
        kw["toxicity"] = ToxicityConfig(blocklist=DEFAULT_BLOCKLIST,
                                        threshold=0.03, mask="[TOXIC]")
        kw["image_quality"] = ImageQualityConfig(
            min_side=64, max_aspect=4.0, fmt_allow=("png", "jpeg"))
    return kw


def dir_stats(path: str) -> tuple[int, int]:
    """(regular files, bytes) under ``path``."""
    n = size = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


@dataclass
class JobResult:
    rows: int
    wall_s: float
    raised: str | None = None
    files: int = 0
    bytes: int = 0
    checks: dict = field(default_factory=dict)
    errors: list = field(default_factory=list)


def run_job(spark, w: Workload, images: str, out: str) -> JobResult:
    from pii_redactor_spark.pipeline.run import run_pipeline

    shutil.rmtree(out, ignore_errors=True)
    t0 = time.perf_counter()
    try:
        summary = run_pipeline(spark, images, out, **job_kwargs(w))
    except Exception as exc:  # a job that raises counts all rows failed
        return JobResult(0, time.perf_counter() - t0, raised=repr(exc))
    wall = time.perf_counter() - t0
    files, size = dir_stats(out)
    return JobResult(int(summary["n_in"]), wall, files=files, bytes=size)


WARMUP_JOBS = 2


def setup_once(work: str, w, tables, cores: int):
    """Session start, Python-worker spin-up and ``WARMUP_JOBS`` warm-up jobs
    over the disjoint warm-up slice."""
    t0 = time.perf_counter()
    spark = build_session(work, cores)
    for _ in range(WARMUP_JOBS):
        r = run_job(spark, w, tables.warm_images,
                    os.path.join(work, "out", "warm"))
        shutil.rmtree(os.path.join(work, "out", "warm"), ignore_errors=True)
        if r.raised:
            raise RuntimeError(f"warm-up job raised {r.raised}")
    return spark, time.perf_counter() - t0


# --- output checks -----------------------------------------------------------


def check_output(w: Workload, labels_path: str, out: str,
                 rows: int) -> tuple[dict, list[str]]:
    """Read the job's committed output and labels with pyarrow and compute
    the correctness checks and the quality-side end-to-end inputs.

    Returns (values, errors); an empty error list means the output passed.
    """
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    labels = pq.read_table(labels_path).to_pandas()
    cols = ["image_id", "keep", "quality_flags", "scrubbed"]
    if w.materialize:
        cols = ["image_id", "keep", "quality_flags", "caption", "bytes",
                "meta_flag"]
    data = ds.dataset(os.path.join(out, "data"), format="parquet",
                      partitioning="hive").to_table(columns=cols).to_pandas()
    if w.materialize:
        data = data.rename(columns={"caption": "scrubbed"})
    lineage = pq.read_table(os.path.join(out, "metrics")).to_pandas()
    errors: list[str] = []

    n_out, n_lineage = len(data), int(lineage["n_in"].sum())
    if not rows == n_out == n_lineage:
        errors.append(f"rows: input {rows}, output {n_out}, "
                      f"lineage n_in {n_lineage}")
    if data["image_id"].duplicated().any():
        errors.append("duplicate image_id in output")
    m = labels.merge(data, on="image_id", how="left", indicator=True)
    present = m["_merge"] == "both"
    missing = int((~present).sum())

    # caption-side decision: no quality flags (the toxicity and image gates
    # AND into `keep` but have no labels of their own)
    cap_keep = m["quality_flags"].map(
        lambda f: f is not None and len(f) == 0)
    exp = m["keep_expected"]
    tp = int((cap_keep & exp & present).sum())
    fp = int((cap_keep & ~exp & present).sum())
    fn = int((~cap_keep & exp).sum())
    keep_f1 = 2 * tp / (2 * tp + fp + fn) if tp else 0.0
    if keep_f1 < 0.99:
        errors.append(f"keep_f1 {keep_f1:.4f} < 0.99")

    tmpl = (m["kind"] == "template") & present
    mismatch = int((m.loc[tmpl, "scrubbed"]
                    != m.loc[tmpl, "scrubbed_expected"]).sum())
    if mismatch:
        errors.append(f"{mismatch} template rows differ from "
                      f"scrubbed_expected")

    def caption_leak(row) -> bool:
        s = row["scrubbed"]
        return isinstance(s, str) and any(v in s for v in row["entity_values"])

    leaks = m[present].apply(caption_leak, axis=1)
    leak_rows = set(m.loc[leaks[leaks].index, "image_id"])
    failed = missing
    bytes_leaks = 0
    if w.materialize:
        for iid, blob, sents in zip(m.loc[present, "image_id"],
                                    m.loc[present, "bytes"],
                                    m.loc[present, "sentinels"]):
            if any(s in blob for s in sents):
                leak_rows.add(iid)
                bytes_leaks += 1
        failed += int((m.loc[present, "meta_flag"] != "ok").sum())
    values = {
        "rows_out": n_out,
        "rows_lineage": n_lineage,
        "rows_missing": missing,
        "rows_failed": failed,
        "rows_leaked": len(leak_rows),
        "rows_leaked_bytes": bytes_leaks,
        "template_mismatch": mismatch,
        "keep_f1": keep_f1,
    }
    return values, errors


def integrity_sample(spark, labels_path: str, images: str, out: str,
                     seed: int, n: int = 48) -> tuple[int, int]:
    """``operators.vision.verify_integrity`` over a seeded sample of rows:
    (rows checked, rows not ok)."""
    import random

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from pii_redactor_spark.operators.vision import verify_integrity
    from pii_redactor_spark.sources import storage

    ids = pq.read_table(labels_path, columns=["image_id"]).column(
        "image_id").to_pylist()
    pick = random.Random(seed).sample(ids, min(n, len(ids)))
    after = storage.read_table(spark, f"{out}/data").where(
        F.col("image_id").isin(pick))
    before = storage.read_table(spark, images).where(
        F.col("image_id").isin(pick))
    res = verify_integrity(after, before).collect()
    return len(res), sum(1 for r in res if not r["ok"])


def quartiles(values: list[float]) -> dict:
    v = sorted(values)
    if len(v) >= 2:
        q1, q2, q3 = statistics.quantiles(v, n=4)
    else:
        q1 = q2 = q3 = v[0]
    return {"median": statistics.median(v), "q1": q1, "q3": q3, "n": len(v),
            "min": v[0], "max": v[-1]}
