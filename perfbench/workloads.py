"""Seeded, cached workload tables for the flagship-job benchmark.

Each workload is an images table in the job's input layout (hive-partitioned
by ``phash_prefix``) plus a labels table the job never sees.  Everything is
derived from ``--seed``: the ``image_id`` prefix, the workload's set of
``phash_prefix`` values and each row's prefix, each row's pool entry and the
carrier planting.

Captions come from ``fixtures.captions.make_caption`` and their labels from
``fixtures.images.label_rows``.  Image bytes come from a pool of real
encodings made by ``fixtures.images.generate_image_row``: the pure-Python
codecs encode only ~170 rows/s per core, so each row draws a pool entry
instead of encoding its own pixels.  The pool is the same for every seed
(``POOL_SEED``) and has an exact format mix (20% jpeg, 10% gif, 10% webp,
60% png); rows get formats in the same exact shares.

On ``materialize_meta`` every row carries its container's native metadata
carrier (JPEG APP1, PNG eXIf, WebP EXIF, GIF comment) holding per-row
sentinels, planted as ``bench.py::_exif_scrub_split`` does.  Exactly 1% of
the jpeg/png/webp rows carry a malformed carrier, half with a truncated IFD
and half with a Latin-1 byte in a kept ASCII tag.  The counts are exact, not
drawn, so the failure and leak counts do not vary with the seed.

Tables are generated without Spark, in a spawn pool of ``nproc`` workers,
and cached under the work directory by (workload, seed, size, generator
fingerprint); the image pool is cached by generator fingerprint.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import shutil
import struct
import zlib
from dataclasses import dataclass

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

POOL_SIZE = 1000
POOL_MIX = (("jpeg", 0.2), ("gif", 0.1), ("webp", 0.1), ("png", 0.6))
MALFORMED_SHARE = 0.01
MALFORMED_CLASSES = ("truncated_ifd", "latin1_ascii")
CARRIER_FMTS = ("jpeg", "png", "webp")
# Set-up runs one job over a warm-up slice of WARMUP_ROWS rows that spans
# every prefix of the workload, so the whole commit loop runs once before
# the first timed job.
WARMUP_ROWS = 2000
# One pool of encodings serves every --seed: with a pool drawn per seed,
# output_bytes_per_row moved by 4-6% across seeds with the pool's mean
# encoded size.  Rows still draw their pool entries by --seed.
POOL_SEED = 0
CHUNK_ROWS = 2500


@dataclass(frozen=True)
class Workload:
    name: str
    rows: int
    junk_ratio: float
    long_tail_ratio: float
    materialize: bool
    gates: bool
    core_rows: int
    prefixes: int


# Why each workload exists, and its sizing, is in README.md.  A job pays a
# fixed ~3.5 s per commit group of 64 prefixes on a 4-CPU host, and rows add
# little on top, so workloads are sized for the benchmark's time budget:
# enough jobs per run for a median, not for the per-row layers to dominate.
WORKLOADS = {
    w.name: w
    for w in (
        # default CaptionConfig mix, decisions mode, both gates on
        Workload("decisions_web", rows=30_000, junk_ratio=0.12,
                 long_tail_ratio=0.03, materialize=False, gates=True,
                 core_rows=10_000, prefixes=128),
        # long-tail captions only, gates off; not in BENCHMARK.json (see
        # README.md), kept for manual runs
        Workload("decisions_long", rows=16_000, junk_ratio=0.0,
                 long_tail_ratio=1.0, materialize=False, gates=False,
                 core_rows=8_000, prefixes=128),
        # materialize mode with the metadata scrub over planted carriers
        Workload("materialize_meta", rows=24_000, junk_ratio=0.12,
                 long_tail_ratio=0.03, materialize=True, gates=False,
                 core_rows=8_000, prefixes=64),
    )
}


def id_prefix(seed: int) -> str:
    return "s" + hashlib.blake2b(
        str(seed).encode(), digest_size=5
    ).hexdigest() + "-"


def generator_fingerprint() -> str:
    """Digest of every source the generated tables and labels depend on."""
    from pii_redactor_spark.fixtures.images import fixture_fingerprint

    h = hashlib.sha256(fixture_fingerprint().encode())
    pkg = os.path.join(ROOT, "pii_redactor_spark")
    paths = [os.path.join(pkg, "fixtures", "exif.py"), os.path.abspath(__file__)]
    core = os.path.join(pkg, "core")
    paths += sorted(
        os.path.join(core, f) for f in os.listdir(core) if f.endswith(".py")
    )
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


# --- image pool ---------------------------------------------------------------


def _pool_candidates(args: tuple[int, int, int]) -> list[dict]:
    seed, start, stop = args
    from pii_redactor_spark.fixtures.captions import CaptionConfig
    from pii_redactor_spark.fixtures.images import generate_image_row

    out = []
    for k in range(start, stop):
        r = generate_image_row(f"pool-{seed}-{k}", CaptionConfig())
        out.append({f: r[f] for f in ("bytes", "w", "h", "fmt", "phash")})
    return out


def _make_pool(seed: int, pool) -> list[dict]:
    """Stratified pool: candidates are drawn in order and kept while their
    format's quota is open, so the pool has exact format counts."""
    quota = {f: round(POOL_SIZE * share) for f, share in POOL_MIX}
    kept: list[dict] = []
    start, step = 0, POOL_SIZE
    while any(quota.values()):
        spans = [(seed, s, min(s + 32, start + step))
                 for s in range(start, start + step, 32)]
        for cands in pool.map(_pool_candidates, spans):
            for c in cands:
                if quota[c["fmt"]]:
                    quota[c["fmt"]] -= 1
                    kept.append(c)
        start += step
        step = POOL_SIZE // 2
    return kept


# --- metadata carriers ----------------------------------------------------------


def sentinels(image_id: str) -> dict:
    """Per-row values that must never survive the metadata scrub."""
    h = hashlib.blake2b(image_id.encode(), digest_size=12).digest()
    a, b, c = struct.unpack("<III", h)
    gps = [(a % 90, 1), (b % 60, 1), (c % 600000, 10000)]
    return {
        "artist": f"artist-{a:08x}",
        "serial": f"SN-{b:08x}{c:08x}",
        "gps": gps,
        "gps_bytes": struct.pack("<6I", *[x for p in gps for x in p]),
    }


def _ifds(s: dict, make: str) -> dict:
    from pii_redactor_spark.fixtures import exif as E

    return {
        "ifd0": {
            E.TAG_MAKE: E.ExifTag(E.TAG_MAKE, E.TYPE_ASCII, make),
            0x013B: E.ExifTag(0x013B, E.TYPE_ASCII, s["artist"]),
            E.TAG_ORIENTATION: E.ExifTag(E.TAG_ORIENTATION, E.TYPE_SHORT, [1]),
        },
        "exif": {0xA431: E.ExifTag(0xA431, E.TYPE_ASCII, s["serial"])},
        "gps": {
            1: E.ExifTag(1, E.TYPE_ASCII, "N"),
            2: E.ExifTag(2, E.TYPE_RATIONAL, s["gps"]),
        },
    }


def carrier_tiff(s: dict, malformed: str) -> bytes:
    """Canonical TIFF with the row's sentinels.  ``truncated_ifd`` cuts the
    trailing GPS rational values off the stream; ``latin1_ascii`` puts a
    0xE9 byte into the Make tag, which the scrub keeps and must re-encode."""
    from pii_redactor_spark.fixtures import exif as E

    make = "Cam0" if malformed == "latin1_ascii" else "Cam"
    tiff = E.build_tiff(_ifds(s, make))
    if malformed == "truncated_ifd":
        return tiff[:-16]
    if malformed == "latin1_ascii":
        return tiff.replace(b"Cam0\x00", b"Cam\xe9\x00", 1)
    return tiff


def plant_carrier(data: bytes, fmt: str, s: dict, malformed: str) -> bytes:
    if fmt == "jpeg":
        payload = b"Exif\x00\x00" + carrier_tiff(s, malformed)
        seg = struct.pack(">BBH", 0xFF, 0xE1, len(payload) + 2) + payload
        return data[:2] + seg + data[2:]
    if fmt == "png":
        tiff = carrier_tiff(s, malformed)
        chunk = (struct.pack(">I", len(tiff)) + b"eXIf" + tiff
                 + struct.pack(">I", zlib.crc32(b"eXIf" + tiff)))
        return data[:33] + chunk + data[33:]
    if fmt == "webp":
        tiff = b"Exif\x00\x00" + carrier_tiff(s, malformed)
        pad = b"\x00" if len(tiff) & 1 else b""
        body = data[12:] + b"EXIF" + struct.pack("<I", len(tiff)) + tiff + pad
        return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WEBP" + body
    note = f"shot by {s['artist']}".encode()
    ext = b"\x21\xfe" + bytes([len(note)]) + note + b"\x00"
    packed = data[10]
    cut = 13 + (3 * (2 << (packed & 0x07)) if packed & 0x80 else 0)
    return data[:cut] + ext + data[cut:]


# --- rows -----------------------------------------------------------------------


def _gen_chunk(args: tuple) -> dict:
    """Captions, labels and (optionally) carriers for one chunk of rows."""
    ids, cfg_ratios, pool_idx, malformed, pool, carriers = args
    from pii_redactor_spark.fixtures.captions import CaptionConfig, make_caption
    from pii_redactor_spark.fixtures.images import label_rows

    cfg = CaptionConfig(junk_ratio=cfg_ratios[0], long_tail_ratio=cfg_ratios[1])
    rows = []
    for iid in ids:
        c = make_caption(iid, cfg)
        rows.append({"image_id": iid, "caption": c["caption"],
                     "_lang": c["lang"], "_kind": c["kind"],
                     "_entities": c["entities"]})
    labels = label_rows(rows)
    out = {
        "caption": [r["caption"] for r in rows],
        "kind": [l["kind"] for l in labels],
        "keep_expected": [l["keep_expected"] for l in labels],
        "scrubbed_expected": [l["scrubbed_expected"] for l in labels],
        "entity_values": [[e["text"] for e in l["entities"]] for l in labels],
        "bytes": [],
        "sentinels": [],
    }
    for iid, pi, mal in zip(ids, pool_idx, malformed):
        p = pool[pi]
        if carriers:
            s = sentinels(iid)
            out["bytes"].append(plant_carrier(p["bytes"], p["fmt"], s, mal))
            sent = [s["artist"].encode()]
            if p["fmt"] != "gif":
                sent += [s["serial"].encode(), s["gps_bytes"]]
            out["sentinels"].append(sent)
        else:
            out["bytes"].append(p["bytes"])
            out["sentinels"].append([])
    return out


def _assign(rng: np.random.Generator, n: int, pool: list[dict],
            carriers: bool) -> tuple[np.ndarray, list[str]]:
    """Pool index and malformed class per row, with exact format counts."""
    by_fmt: dict[str, list[int]] = {}
    for i, p in enumerate(pool):
        by_fmt.setdefault(p["fmt"], []).append(i)
    fmts: list[str] = []
    for f, share in POOL_MIX:
        fmts += [f] * round(n * share)
    fmts = (fmts + ["png"] * n)[:n]
    fmts_arr = np.array(fmts)[rng.permutation(n)]
    pool_idx = np.empty(n, dtype=np.int64)
    for f, members in by_fmt.items():
        rows = np.flatnonzero(fmts_arr == f)
        pool_idx[rows] = np.array(members)[
            rng.integers(0, len(members), size=len(rows))
        ]
    malformed = [""] * n
    if carriers:
        per_fmt = round(n * MALFORMED_SHARE / len(CARRIER_FMTS))
        for f in CARRIER_FMTS:
            rows = np.flatnonzero(fmts_arr == f)
            pick = rng.choice(rows, size=min(per_fmt, len(rows)), replace=False)
            for j, r in enumerate(pick):
                malformed[r] = MALFORMED_CLASSES[j % len(MALFORMED_CLASSES)]
    return pool_idx, malformed


def _write_tables(out_dir: str, ids: list[str], prefixes: np.ndarray,
                  pool: list[dict], pool_idx: np.ndarray,
                  malformed: list[str], parts: list[dict]) -> None:
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    col = {k: [v for p in parts for v in p[k]] for k in parts[0]}
    mask = (1 << 56) - 1
    phash = []
    for pre, pi in zip(prefixes, pool_idx):
        v = (int(pre) << 56) | (pool[pi]["phash"] & mask)
        phash.append(v - (1 << 64) if v >= 1 << 63 else v)
    images = pa.table({
        "image_id": pa.array(ids, pa.string()),
        "bytes": pa.array(col["bytes"], pa.binary()),
        "w": pa.array([pool[i]["w"] for i in pool_idx], pa.int32()),
        "h": pa.array([pool[i]["h"] for i in pool_idx], pa.int32()),
        "fmt": pa.array([pool[i]["fmt"] for i in pool_idx], pa.string()),
        "caption": pa.array(col["caption"], pa.string()),
        "phash": pa.array(phash, pa.int64()),
        "phash_prefix": pa.array(prefixes, pa.int32()),
    })
    ds.write_dataset(
        images, os.path.join(out_dir, "images"), format="parquet",
        partitioning=ds.partitioning(
            pa.schema([("phash_prefix", pa.int32())]), flavor="hive"
        ),
        existing_data_behavior="overwrite_or_ignore",
    )
    labels = pa.table({
        "image_id": pa.array(ids, pa.string()),
        "fmt": images["fmt"],
        "kind": pa.array(col["kind"], pa.string()),
        "keep_expected": pa.array(col["keep_expected"], pa.bool_()),
        "scrubbed_expected": pa.array(col["scrubbed_expected"], pa.string()),
        "entity_values": pa.array(col["entity_values"], pa.list_(pa.string())),
        "malformed": pa.array(malformed, pa.string()),
        "sentinels": pa.array(col["sentinels"], pa.list_(pa.binary())),
    })
    pq.write_table(labels, os.path.join(out_dir, "labels.parquet"))


def prefix_values(w: Workload, seed: int) -> np.ndarray:
    """The workload's ``w.prefixes`` phash prefixes, drawn from all 256 by
    the seed (the same for the timed table and its set-up slices)."""
    rng = np.random.default_rng([seed, zlib.crc32(w.name.encode())])
    return np.sort(rng.permutation(256)[:w.prefixes]).astype(np.int32)


def _generate(out_dir: str, w: Workload, n: int, seed: int, tag: str,
              values: np.ndarray, pool_rows: list[dict], pool) -> None:
    rng = np.random.default_rng([seed, zlib.crc32(f"{w.name}/{tag}".encode())])
    ids = [f"{id_prefix(seed)}{tag}{i:09d}" for i in range(n)]
    prefixes = values[rng.integers(0, len(values), size=n)]
    pool_idx, malformed = _assign(rng, n, pool_rows, w.materialize)
    ratios = (w.junk_ratio, w.long_tail_ratio)
    jobs = [
        (ids[i:i + CHUNK_ROWS], ratios, pool_idx[i:i + CHUNK_ROWS],
         malformed[i:i + CHUNK_ROWS], pool_rows, w.materialize)
        for i in range(0, n, CHUNK_ROWS)
    ]
    parts = pool.map(_gen_chunk, jobs)
    _write_tables(out_dir, ids, prefixes, pool_rows, pool_idx, malformed,
                  parts)


def _cached_pool(base: str, pool) -> list[dict]:
    """The image pool, generated once per generator fingerprint."""
    path = os.path.join(base, f"pool-{generator_fingerprint()}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    rows = _make_pool(POOL_SEED, pool)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(rows, f)
    os.replace(path + ".tmp", path)
    return rows


@dataclass(frozen=True)
class Tables:
    images: str
    labels: str
    warm_images: str
    rows: int


def ensure_tables(work: str, w: Workload, seed: int, rows: int,
                  workers: int, keep: int = 24) -> tuple[Tables, bool]:
    """Generate-once tables for (workload, seed, rows, fingerprint); the
    marker is written last so a torn generation never validates.  Only the
    ``keep`` most recently used entries stay on disk.  Returns the tables
    and whether they were generated now."""
    key = f"{w.name}-{seed}-{rows}-{generator_fingerprint()}"
    base = os.path.join(work, "tables")
    out = os.path.join(base, key)
    marker = os.path.join(out, "_GEN_DONE")
    tables = Tables(os.path.join(out, "main", "images"),
                    os.path.join(out, "main", "labels.parquet"),
                    os.path.join(out, "warm", "images"), rows)
    if os.path.exists(marker):
        os.utime(marker)
        return tables, False
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    import multiprocessing

    values = prefix_values(w, seed)
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(workers) as pool:
        pool_rows = _cached_pool(base, pool)
        _generate(os.path.join(out, "main"), w, rows, seed, "m", values,
                  pool_rows, pool)
        _generate(os.path.join(out, "warm"), w, min(WARMUP_ROWS, rows), seed,
                  "w", values, pool_rows, pool)
    with open(marker, "w") as f:
        json.dump({"workload": w.name, "seed": seed, "rows": rows}, f)
    entries = sorted(
        (e for e in os.listdir(base)
         if os.path.exists(os.path.join(base, e, "_GEN_DONE"))),
        key=lambda e: os.path.getmtime(os.path.join(base, e, "_GEN_DONE")),
    )
    for stale in entries[:-keep]:
        shutil.rmtree(os.path.join(base, stale), ignore_errors=True)
    current = f"pool-{generator_fingerprint()}.pkl"
    for e in os.listdir(base):
        if e.startswith("pool-") and e != current:
            os.remove(os.path.join(base, e))
    return tables, True
