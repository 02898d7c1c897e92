"""The traced run: the flagship job split layer by layer.

Every span is recorded here, around calls into the program's public
functions; nothing inside ``pii_redactor_spark/`` is instrumented.  Four
parts, each named after the module whose functions it times:

* pipeline spans: one ``run_pipeline`` call with ``pipeline.run``'s
  ``todo_prefixes`` and ``sources.storage``'s ``read_table``,
  ``write_partitioned``, ``append_table`` and ``commit_snapshot`` wrapped;
  the wall time not covered by them is ``pipeline.run.residual_s``.
* stage isolation: the job's plan for each commit group forced into a
  ``noop`` sink one layer at a time (scan, Arrow transfer, scrub UDF,
  gates, metadata scrub), then written once; the layer times are
  differences of consecutive levels.
* driver-side core: the scrub sub-stages over the workload's own captions
  in one process, in 10,000-row batches (``arrow.maxRecordsPerBatch``), and
  the metadata scrub per container.
* ceilings: ``scrub_batch`` in a ``multiprocessing`` pool of ``nproc``
  workers with no Spark, and the traced job again at ``local[1]``.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import os
import shutil
import statistics
import time
import uuid
from collections.abc import Iterator

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType, StringType

import job
from workloads import MALFORMED_CLASSES

BATCH = 10_000
TRACE_ROUNDS = 2


# --- spans --------------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end, parent span id and run id."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.calls = 0
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count()

    @contextlib.contextmanager
    def span(self, name: str):
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    @contextlib.contextmanager
    def wrapped(self, targets: list[tuple[str, object, str]]):
        """Replace ``module.attr`` with a span-recording wrapper for the
        duration of the block."""
        saved = []
        for name, mod, attr in targets:
            fn = getattr(mod, attr)
            saved.append((mod, attr, fn))

            def inner(*a, _fn=fn, _name=name, **k):
                self.calls += 1
                with self.span(_name):
                    return _fn(*a, **k)

            setattr(mod, attr, functools.wraps(fn)(inner))
        try:
            yield
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)


def wrapper_cost(n: int = 20_000) -> float:
    """Seconds one wrapped call adds over a bare call."""
    def noop():
        return None

    tracer = Tracer("cost")
    holder = type("Holder", (), {"f": staticmethod(noop)})
    t0 = time.perf_counter()
    for _ in range(n):
        holder.f()
    bare = time.perf_counter() - t0
    with tracer.wrapped([("noop", holder, "f")]):
        t0 = time.perf_counter()
        for _ in range(n):
            holder.f()
        wrapped = time.perf_counter() - t0
    return max(wrapped - bare, 0.0) / n


def span_targets():
    from pii_redactor_spark.pipeline import run as run_mod
    from pii_redactor_spark.sources import storage

    return [("pipeline.run.todo_prefixes", run_mod, "todo_prefixes")] + [
        (f"storage.{a}", storage, a)
        for a in ("read_table", "write_partitioned", "append_table",
                  "commit_snapshot")
    ]


def traced_job(spark, w, images: str, out: str) -> dict:
    """One ``run_pipeline`` call with the pipeline spans and the Spark job
    and task counts from the status tracker."""
    from pii_redactor_spark.pipeline.run import run_pipeline

    shutil.rmtree(out, ignore_errors=True)
    run_id = uuid.uuid4().hex[:12]
    tracer = Tracer(run_id)
    sc = spark.sparkContext
    group = f"perfbench-{run_id}"
    sc.setJobGroup(group, "perfbench traced job")
    try:
        with tracer.wrapped(span_targets()):
            with tracer.span("pipeline.run.run_pipeline") as root:
                summary = run_pipeline(spark, images, out, run_id=run_id,
                                       **job.job_kwargs(w))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    job_ids = st.getJobIdsForGroup(group)
    tasks = 0
    for jid in job_ids:
        info = st.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            stage = st.getStageInfo(sid)
            tasks += stage.numTasks if stage else 0
    files, size = job.dir_stats(out)

    wall = root["end"] - root["start"]
    wrapper_s = tracer.calls * wrapper_cost()
    top = [s for s in tracer.spans if s["parent"] == root["id"]]
    per = {}
    for s in top:
        per[s["name"]] = per.get(s["name"], 0.0) + s["end"] - s["start"]
    writes = [s for s in top if s["name"] == "storage.write_partitioned"]
    commits = [s for s in top if s["name"] == "storage.commit_snapshot"]
    groups = [c["end"] - wr["start"] for wr, c in zip(writes, commits)]
    return {
        "rows": int(summary["n_in"]), "wall_s": wall, "per_span_s": per,
        "residual_s": wall - sum(per.values()), "group_s": groups,
        "spark_jobs": len(job_ids), "spark_tasks": tasks,
        "wrapper_s": wrapper_s,
        "files": files, "bytes": size,
        "spans": [{**s, "start": s["start"] - root["start"],
                   "end": s["end"] - root["start"]} for s in tracer.spans],
    }


# --- stage isolation ------------------------------------------------------------


@pandas_udf(StringType())
def _identity_str(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    yield from batches


@pandas_udf(BinaryType())
def _identity_bin(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    yield from batches


def _levels(w) -> list[tuple[str, object]]:
    """(level name, group frame -> DataFrame) in plan order; each level adds
    one layer to the previous one, and the last is the job's own plan."""
    from pyspark.sql import functions as F

    from pii_redactor_spark.operators.scrub import with_scrub
    from pii_redactor_spark.pipeline import run as run_mod

    kw = job.job_kwargs(w)
    cfg, tox, iq = kw["scrub_cfg"], kw["toxicity"], kw["image_quality"]
    ident = _identity_str.asNondeterministic()
    ident_b = _identity_bin.asNondeterministic()
    if w.materialize:
        return [
            ("spark.scan_s", lambda p: p),
            ("spark.arrow_s", lambda p: p.withColumn(
                "_c", ident(F.col("caption"))).withColumn(
                "_b", ident_b(F.col("bytes")))),
            ("operators.scrub.udf_s", lambda p: with_scrub(p, cfg=cfg)
             .withColumn("_b", ident_b(F.col("bytes")))),
            ("operators.vision.metadata_scrub_s", materialized_group(w)),
        ]
    cols = ["image_id", "phash_prefix", "caption"]
    if iq is not None:
        cols += ["w", "h", "fmt"]
    levels = [
        ("spark.scan_s", lambda p: p.select(*cols)),
        ("spark.arrow_s", lambda p: p.select(*cols).withColumn(
            "_c", ident(F.col("caption")))),
        ("operators.scrub.udf_s",
         lambda p: run_mod.scrub_decisions(p, cfg=cfg)),
    ]
    if tox is not None:
        levels.append(("functions.toxicity.gate_s",
                       lambda p: run_mod.scrub_decisions(p, cfg=cfg,
                                                         toxicity=tox)))
    if iq is not None:
        levels.append(("operators.vision.image_quality_s",
                       lambda p: run_mod.scrub_decisions(
                           p, cfg=cfg, toxicity=tox, image_quality=iq)))
    return levels


def materialized_group(w):
    """The frame ``run_pipeline`` writes for one group in materialize mode."""
    from pyspark.sql import functions as F

    from pii_redactor_spark.pipeline import run as run_mod

    kw = job.job_kwargs(w)

    def build(p):
        result = run_mod.scrub_images(
            p, cfg=kw["scrub_cfg"], toxicity=kw["toxicity"],
            image_quality=kw["image_quality"],
            scrub_metadata=kw["scrub_metadata"])
        return (result.withColumn("caption_raw", F.col("caption"))
                .withColumn("caption", F.col("scrubbed"))
                .withColumn("keep_part", F.col("keep").cast("int")))

    return build


def stage_isolation(spark, w, images: str, scratch: str) -> dict:
    """Sum over commit groups of each level's time, and of the write."""
    from pyspark.sql import functions as F

    from pii_redactor_spark.sources import storage

    src = storage.read_table(spark, images)
    prefixes = sorted(r[0] for r in
                      src.select("phash_prefix").distinct().collect())
    groups = [prefixes[i:i + 64] for i in range(0, len(prefixes), 64)]
    levels = _levels(w)
    part_cols = ["phash_prefix", "keep_part"] if w.materialize else \
        ["phash_prefix"]
    totals = {name: 0.0 for name, _ in levels}
    totals["write"] = 0.0
    shutil.rmtree(scratch, ignore_errors=True)
    for g in groups:
        part = src.where(F.col("phash_prefix").isin(g))
        # Frames are built outside the timed region: building the scrub
        # plan costs ~0.4 s a group on a 4-CPU host, and the job builds it
        # outside its write_partitioned span (it falls in the residual).
        for name, build in levels:
            frame = build(part)
            t0 = time.perf_counter()
            frame.write.mode("overwrite").format("noop").save()
            totals[name] += time.perf_counter() - t0
        frame = levels[-1][1](part)
        t0 = time.perf_counter()
        storage.write_partitioned(frame, scratch, part_cols)
        totals["write"] += time.perf_counter() - t0
    shutil.rmtree(scratch, ignore_errors=True)
    return totals


def layer_times(rounds: list[dict]) -> dict:
    """Each level's fastest total over the rounds; a level's layer time is
    its difference from the previous level, and the write's own time is
    the write minus the last level."""
    best = {name: min(r[name] for r in rounds) for name in rounds[0]}
    layers, prev = {}, 0.0
    for name, total in best.items():
        if name == "write":
            continue
        layers[name] = total - prev
        prev = total
    layers["storage.write_self_s"] = best["write"] - prev
    return {"layers": layers, "levels_s": best, "rounds": rounds}


# --- driver-side core -------------------------------------------------------------


def core_split(w, images: str) -> dict:
    """The scrub sub-stages in one process over the workload's captions."""
    import pyarrow.dataset as ds

    from pii_redactor_spark.core.classify import classify_entity
    from pii_redactor_spark.core.detect import detect_spans, guard_flags_batch
    from pii_redactor_spark.core.langid import classify_batch
    from pii_redactor_spark.core.quality import flat_codes, quality_flags_batch
    from pii_redactor_spark.core.redact import redact_simple, redact_typed
    from pii_redactor_spark.operators.scrub import scrub_batch

    cfg = job.job_kwargs(w)["scrub_cfg"]
    texts = ds.dataset(images, format="parquet", partitioning="hive") \
        .to_table(columns=["caption"]).column("caption").to_pylist()
    texts = [t or "" for t in texts[:w.core_rows]]
    t = dict.fromkeys(["flat_codes", "classify_batch", "quality_flags_batch",
                       "guard_flags_batch", "detect_spans", "classify_entity",
                       "redact", "scrub_batch"], 0.0)
    guard_pass = with_spans = entities = 0
    scrub_batch(texts[:64], cfg)  # builds the trigram LM outside the timing
    clock = time.perf_counter
    for i in range(0, len(texts), BATCH):
        batch = texts[i:i + BATCH]
        c0 = clock()
        flat = flat_codes(batch)
        c1 = clock()
        classify_batch(batch, flat)
        c2 = clock()
        quality_flags_batch(batch, cfg.quality, flat)
        c3 = clock()
        gflags = guard_flags_batch(len(batch), *flat)
        c4 = clock()
        spans = [detect_spans(x, cfg.confidence_threshold, gf)
                 for x, gf in zip(batch, gflags)]
        c5 = clock()
        typed = [[(s, e, classify_entity(x[s:e])) for s, e, _, _ in sp]
                 for x, sp in zip(batch, spans)]
        c6 = clock()
        for x, ty in zip(batch, typed):
            redact_typed(x, ty, cfg.replacement, cfg.preserve_format)
            redact_simple(x, ty, cfg.replacement)
        c7 = clock()
        scrub_batch(batch, cfg)
        c8 = clock()
        for k, dt in zip(t, (c1 - c0, c2 - c1, c3 - c2, c4 - c3, c5 - c4,
                             c6 - c5, c7 - c6, c8 - c7)):
            t[k] += dt
        guard_pass += sum(1 for gf in gflags if any(gf))
        with_spans += sum(1 for sp in spans if sp)
        entities += sum(len(sp) for sp in spans)
    krows = len(texts) / 1000
    return {"rows": len(texts),
            "ms_per_krow": {k: v * 1000 / krows for k, v in t.items()},
            "guard_pass_rows": guard_pass, "rows_with_spans": with_spans,
            "entities": entities}


def exif_split(w, images: str, labels: str) -> dict:
    """The container scrubs of ``fixtures.exif`` per format over the
    workload's bytes, and the rows each planted malformation class fails."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from pii_redactor_spark.fixtures import exif as E

    scrub = {"jpeg": E.scrub_exif, "png": E.scrub_png_metadata,
             "webp": E.scrub_webp_metadata, "gif": E.scrub_gif_metadata}
    us = dict.fromkeys(scrub, 0.0)
    failed = dict.fromkeys(MALFORMED_CLASSES, 0)
    if not w.materialize:
        return {"us_per_row": us, "failed_rows": failed, "rows": 0}
    img = ds.dataset(images, format="parquet", partitioning="hive") \
        .to_table(columns=["image_id", "bytes", "fmt"]).to_pandas()
    lab = pq.read_table(labels, columns=["image_id", "malformed"]).to_pandas()
    img = img.merge(lab, on="image_id").head(w.core_rows)
    for fmt, fn in scrub.items():
        sub = img[img["fmt"] == fmt]
        t0 = time.perf_counter()
        for data, mal in zip(sub["bytes"], sub["malformed"]):
            try:
                fn(data)
            except ValueError:
                if mal in failed:
                    failed[mal] += 1
        us[fmt] = (time.perf_counter() - t0) * 1e6 / max(len(sub), 1)
    return {"us_per_row": us, "failed_rows": failed, "rows": len(img)}


# --- ceilings -------------------------------------------------------------------


def _scrub_chunk(texts: list[str]) -> int:
    from pii_redactor_spark.operators.scrub import scrub_batch

    for i in range(0, len(texts), BATCH):
        scrub_batch(texts[i:i + BATCH])
    return len(texts)


def ceiling(images: str, workers: int) -> dict:
    """``scrub_batch`` over the same captions in a spawn pool of ``workers``
    processes, timed after the pool has started and imported the module."""
    import multiprocessing

    import pyarrow.dataset as ds

    texts = ds.dataset(images, format="parquet", partitioning="hive") \
        .to_table(columns=["caption"]).column("caption").to_pylist()
    texts = [t or "" for t in texts]
    chunks = [texts[i:i + BATCH] for i in range(0, len(texts), BATCH)]
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(workers) as pool:
        pool.map(_scrub_chunk, [texts[:200]] * workers)
        t0 = time.perf_counter()
        n = sum(pool.map(_scrub_chunk, chunks, chunksize=1))
        dt = time.perf_counter() - t0
    return {"rows": n, "s": dt, "rows_per_s": n / dt}


# --- the traced run ---------------------------------------------------------------


def rebind_udfs() -> None:
    """A UDF caches its JVM function, bound to the SparkContext that first
    ran it, and ``operators.scrub`` builds ``scrub_udf`` once at import.
    Reloading the module after a new context has started gives the next
    job a fresh UDF instead of one that reports to the stopped context's
    accumulator server."""
    import importlib

    from pii_redactor_spark.operators import scrub

    importlib.reload(scrub)


def traced_run(spark, work: str, w, tables,
               cores: int) -> tuple[dict, dict, "job.JobResult"]:
    """-> (per-layer metrics {name: (value, unit)}, spans and details, the
    traced job with its output checks).  Stops ``spark``, then repeats the
    traced job in a ``local[1]`` session of the same, already warm JVM; its
    one Python worker starts cold inside the job.

    The traced job and the stage isolation run in ``TRACE_ROUNDS``
    alternating rounds.  The fastest traced job gives the spans and the
    fastest total of each isolation level gives the layers, so that
    ``trace.coverage`` compares two best-of-rounds figures rather than two
    single measurements a host slowdown can split."""
    out = os.path.join(work, "out", "traced")
    traced, iso_rounds, errors = [], [], []
    for _ in range(TRACE_ROUNDS):
        t = traced_job(spark, w, tables.images, out)
        t["checks"], errs = job.check_output(w, tables.labels, out,
                                             tables.rows)
        errors += errs
        shutil.rmtree(out, ignore_errors=True)
        traced.append(t)
        iso_rounds.append(stage_isolation(
            spark, w, tables.images, os.path.join(work, "out", "isolation")))
    spark.stop()
    tj = min(traced, key=lambda t: t["wall_s"])
    iso = layer_times(iso_rounds)
    result = job.JobResult(tj["rows"], tj["wall_s"], files=tj["files"],
                           bytes=tj["bytes"], checks=tj.pop("checks"),
                           errors=errors)
    for t in traced:
        t.pop("checks", None)

    core = core_split(w, tables.images)
    ex = exif_split(w, tables.images, tables.labels)
    ceil = ceiling(tables.images, cores)

    spark1 = job.build_session(work, 1)
    rebind_udfs()
    out1 = os.path.join(work, "out", "traced1")
    try:
        tj1 = traced_job(spark1, w, tables.images, out1)
    finally:
        shutil.rmtree(out1, ignore_errors=True)
        spark1.stop()
    if tj1["rows"] != tables.rows:
        result.errors.append(f"local[1] job wrote {tj1['rows']} of "
                             f"{tables.rows} rows")

    rate4 = tj["rows"] / tj["wall_s"]
    rate1 = tj1["rows"] / tj1["wall_s"]
    per = tj["per_span_s"]
    write_span = per.get("storage.write_partitioned", 0.0)
    parts = sum(iso["layers"].values())
    m: dict[str, tuple[float, str]] = {
        "pipeline.run.wall_s": (tj["wall_s"], "s"),
        "pipeline.run.todo_prefixes_s":
            (per.get("pipeline.run.todo_prefixes", 0.0), "s"),
        "storage.read_table_s": (per.get("storage.read_table", 0.0), "s"),
        "storage.write_partitioned_s": (write_span, "s"),
        "storage.append_table_s": (per.get("storage.append_table", 0.0), "s"),
        "storage.commit_snapshot_s":
            (per.get("storage.commit_snapshot", 0.0), "s"),
        "pipeline.run.residual_s": (tj["residual_s"], "s"),
        "pipeline.run.groups": (len(tj["group_s"]), "count"),
        "pipeline.run.group_s_median":
            (statistics.median(tj["group_s"] or [0.0]), "s"),
        "pipeline.run.group_s_max": (max(tj["group_s"] or [0.0]), "s"),
        "spark.jobs": (tj["spark_jobs"], "count"),
        "spark.tasks": (tj["spark_tasks"], "count"),
        "storage.files_written": (tj["files"], "count"),
        "storage.bytes_written": (tj["bytes"], "B"),
    }
    for name in ("spark.scan_s", "spark.arrow_s", "operators.scrub.udf_s",
                 "functions.toxicity.gate_s",
                 "operators.vision.image_quality_s",
                 "operators.vision.metadata_scrub_s",
                 "storage.write_self_s"):
        m[name] = (iso["layers"].get(name, 0.0), "s")
    m["trace.coverage"] = (parts / write_span if write_span else 0.0, "ratio")
    m["trace.overhead"] = (tj["wrapper_s"] / tj["wall_s"], "ratio")
    names = {"flat_codes": "core.quality.flat_codes",
             "classify_batch": "core.langid.classify_batch",
             "quality_flags_batch": "core.quality.quality_flags_batch",
             "guard_flags_batch": "core.detect.guard_flags_batch",
             "detect_spans": "core.detect.detect_spans",
             "classify_entity": "core.classify.classify_entity",
             "redact": "core.redact.redact",
             "scrub_batch": "operators.scrub.scrub_batch"}
    for k, name in names.items():
        m[f"{name}_ms_per_krow"] = (core["ms_per_krow"][k], "ms/krow")
    m["core.detect.guard_pass_rows"] = (core["guard_pass_rows"], "count")
    m["core.detect.rows_with_spans"] = (core["rows_with_spans"], "count")
    m["core.detect.entities"] = (core["entities"], "count")
    m["core.detect.guard_precision"] = (
        core["rows_with_spans"] / core["guard_pass_rows"]
        if core["guard_pass_rows"] else 0.0, "ratio")
    for fmt, v in ex["us_per_row"].items():
        m[f"fixtures.exif.scrub_us_per_row.{fmt}"] = (v, "us/row")
    for cls, v in ex["failed_rows"].items():
        m[f"fixtures.exif.failed_rows.{cls}"] = (v, "count")
    m["ceiling.rows_per_s"] = (ceil["rows_per_s"], "rows/s")
    m["spark.efficiency"] = (rate4 / ceil["rows_per_s"], "ratio")
    m["scale.rows_per_s_1core"] = (rate1, "rows/s")
    m["scale.eff_1to4"] = (rate4 / (cores * rate1), "ratio")
    detail = {"traced": {k: v for k, v in tj.items() if k != "spans"},
              "traced_rounds_wall_s": [t["wall_s"] for t in traced],
              "traced_1core": {k: v for k, v in tj1.items() if k != "spans"},
              "isolation": iso, "core": core, "exif": ex, "ceiling": ceil}
    return m, {"spans": tj["spans"], "spans_1core": tj1["spans"],
               "detail": detail}, result

