"""The four benchmark workloads: seeded inputs, one job each, output checks.

Every input is derived from the run's seed and written to parquet; the
engine only ever sees those parquet files. Each workload varies one input
property the engine's cost depends on:

=======================  =============================================
workload                 input property it varies
=======================  =============================================
sweep_rd_grid            distances per theme (about 50 instead of 1)
image_pipeline_resume    vertices per theme, and number of jobs (shards)
=======================  =============================================

A job returns an ``Outcome``: its wall time, the part of it spent in the
align stage, an order-independent signature of its output, and the list
of failed checks. The signature must be equal across repetitions.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from brdrq_spark.operators.align import AlignConfig, distance_grid
from brdrq_spark.operators.evaluate import evaluate
from brdrq_spark.operators.footprints import extract_footprints, pixel_sha
from brdrq_spark.sources.manifest import CommittedTable, checkpointed_align
from brdrq_spark.geom import point_in_rings
from brdrq_spark.raster.png import encode_image
from brdrq_spark.sources.synthetic import reference_parcels, thematic_polygons

# Full-size inputs. ``TINY`` replaces them in the smoke mode.
FULL = {
    "sweep_rd_grid": {"grid": 64, "themes": 256, "slice": 16},
    "image_pipeline_resume": {"grid": 64, "images": 8, "shards": 2},
}
TINY = {
    "sweep_rd_grid": {"grid": 16, "themes": 16, "slice": 8},
    "image_pipeline_resume": {"grid": 64, "images": 4, "shards": 2},
}
RD = 2.0  # relevant distance of the single-distance workloads
MAX_RD = 5.0  # grid top of the sweep
STEP = 0.1


@dataclass
class Outcome:
    seconds: float  # wall time of the whole job
    align_s: float  # wall time of the job's align stage
    signature: tuple
    problems: list[str] = field(default_factory=list)
    resume_s: float | None = None  # image_pipeline_resume only
    shards: tuple[int, int] = (0, 0)  # resume: (computed, skipped) shards


@dataclass
class Inputs:
    dir: str
    n_themes: int  # themes (images) taken through one job
    paths: dict
    extra: dict = field(default_factory=dict)


def _write(pdf: pd.DataFrame, path: str, parts: int) -> None:
    """Write ``pdf`` as ``parts`` parquet files (rows dealt round-robin),
    so that a scan has one task per core."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    for k in range(parts):
        table = pa.Table.from_pandas(pdf.iloc[k::parts], preserve_index=False)
        pq.write_table(table, f"{path}/part-{k:05d}.parquet")


def _images(n: int, seed: int, size: int = 64) -> pd.DataFrame:
    """n images in the schema of ``sources.synthetic.images_table`` -- a
    bright convex blob on dark noise, png and raw alternating, every fifth
    quantized -- but all ``size`` x ``size``, so that the footprints of
    every seed have similar detail (the package draws 24-96 px sides)."""
    rng = np.random.default_rng(seed)
    ys, xs = np.mgrid[0:size, 0:size]
    pixels = np.column_stack([xs.ravel() + 0.5, ys.ravel() + 0.5])
    rows = []
    for i in range(n):
        ang = np.sort(rng.uniform(0, 2 * np.pi, int(rng.integers(5, 10))))
        rad = rng.uniform(0.25, 0.48, len(ang)) * size
        blob = np.column_stack([size / 2 + rad * np.cos(ang), size / 2 + rad * np.sin(ang)])
        img = rng.integers(0, 60, (size, size)).astype(np.uint8)
        img[point_in_rings(pixels, [blob]).reshape(size, size)] = rng.integers(180, 250)
        # 64-bit perceptual hash (8x8 block means against their mean); the
        # footprint operator places each footprint by it
        blocks = img.reshape(8, size // 8, 8, size // 8).mean(axis=(1, 3))
        phash = np.packbits(blocks > blocks.mean()).view(">i8")[0]
        fmt = ("png", "raw")[i % 2]
        rows.append({
            "image_id": f"img_{seed}_{i:04d}",
            "bytes": encode_image(img, fmt, quantize=4 if i % 5 == 0 else 1),
            "w": np.int32(size), "h": np.int32(size), "fmt": fmt,
            "caption": f"benchmark image {i} of seed {seed}",
            "phash": np.int64(phash),
        })
    return pd.DataFrame(rows)


def _themes(n: int, grid: int, seed: int) -> pd.DataFrame:
    """n jittered copies (±1 m) of distinct parcels of the seed's lattice."""
    th = thematic_polygons(n, grid, grid, seed=seed + 1, jitter=1.0, node_seed=seed)
    return th[["theme_id", "geom_wkb"]].assign(theme_no=np.arange(n, dtype=np.int64))


def prepare(name: str, seed: int, root: str, tiny: bool) -> Inputs:
    """Generate the workload's inputs from ``seed`` and write them, one
    parquet file per core."""
    size = (TINY if tiny else FULL)[name]
    par = len(os.sched_getaffinity(0))
    os.makedirs(root, exist_ok=True)
    paths = {"ref": f"{root}/reference.parquet"}
    g = size["grid"]
    _write(reference_parcels(g, g, seed=seed)[["ref_id", "geom_wkb"]], paths["ref"], par)
    if name == "image_pipeline_resume":
        imgs = _images(size["images"], seed)
        paths["images"] = f"{root}/images.parquet"
        _write(imgs, paths["images"], par)
        expected = {
            r.image_id: (r.caption, pixel_sha(r.bytes, int(r.w), int(r.h), r.fmt))
            for r in imgs.itertuples(index=False)
        }
        return Inputs(root, size["images"], paths,
                      {"expected": expected, "shards": size["shards"]})
    paths["themes"] = f"{root}/themes.parquet"
    _write(_themes(size["themes"], g, seed), paths["themes"], par)
    return Inputs(root, size["themes"] // size["slice"], paths, {"slice": size["slice"]})


# ---------------------------------------------------------------- checks


def signature(df, extra_cols=()) -> tuple[int, int, int, str]:
    """(rows, distinct themes, rows with a remark, digest) of an align-
    schema result. The digest sums a hash of each row's rounded result
    columns, so it does not depend on row order or partitioning."""
    cols = [
        F.col("theme_id"),
        F.col("brdr_relevant_distance"),
        F.round("brdr_area", 3),
        F.round("brdr_perimeter", 3),
        F.round("brdr_sym_diff_area", 3),
        F.col("brdr_nr_references"),
        F.col("brdr_full_actual"),
        *[F.col(c) for c in extra_cols],
    ]
    r = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("theme_id").alias("themes"),
        F.sum(F.when(F.coalesce(F.col("brdr_remark"), F.lit("")) != "", 1).otherwise(0))
        .alias("remarks"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("digest"),
    ).collect()[0]
    return int(r.rows), int(r.themes), int(r.remarks or 0), str(r.digest)


def _check_rows(sig, n_themes: int, rows_per_theme: int | None) -> list[str]:
    rows, themes, remarks, _ = sig
    out = []
    if themes != n_themes:
        out.append(f"themes {themes} != {n_themes}")
    if rows_per_theme is not None and rows != n_themes * rows_per_theme:
        out.append(f"rows {rows} != {n_themes * rows_per_theme}")
    if remarks:
        out.append(f"{remarks} rows carry a brdr_remark")
    return out


# ---------------------------------------------------------------- jobs


def themes_df(spark, name: str, inp: Inputs):
    """The theme table the workload's align stage consumes."""
    if name == "image_pipeline_resume":
        return spark.read.parquet(inp.paths["footprints"]).select("theme_id", "geom_wkb")
    th = spark.read.parquet(inp.paths["themes"])
    return th.where(F.pmod("theme_no", F.lit(inp.extra["slice"])) == 0).select(
        "theme_id", "geom_wkb")


def align_config(name: str) -> AlignConfig:
    """The relevant-distance grid of the workload's align stage. The
    sweep's themes are all below evaluate's area threshold, so
    ``auto_step`` keeps them on the 10 cm grid."""
    if name == "sweep_rd_grid":
        return AlignConfig(relevant_distances=distance_grid(MAX_RD, STEP))
    return AlignConfig(relevant_distances=[RD])


def source_df(spark, name: str, inp: Inputs):
    """The job's theme source: parquet scan, or images -> footprints."""
    if name == "image_pipeline_resume":
        return extract_footprints(spark.read.parquet(inp.paths["images"]))
    return themes_df(spark, name, inp)


def run_job(spark, name: str, inp: Inputs) -> Outcome:
    if name == "image_pipeline_resume":
        return _image_pipeline(spark, inp)
    ref = spark.read.parquet(inp.paths["ref"])
    th = themes_df(spark, name, inp)
    t0 = time.perf_counter()
    # no shared AlignConfig: evaluate() assigns its grid to the caller's
    # config, so a reused one would drift between jobs
    out = evaluate(spark, th, ref, max_rd=MAX_RD, step=STEP, auto_step=True,
                   broadcast_ref=True)
    sig = signature(out, ("brdr_evaluation", "brdr_prediction_score"))
    dt = time.perf_counter() - t0
    return Outcome(dt, dt, sig, _check_rows(sig, inp.n_themes, None))


def _drop_commits(table: CommittedTable, keep: list[str]) -> None:
    """Leave the table as a run killed after ``keep`` were committed:
    the manifest lists only them and the later shards' files are gone."""
    for key in table.committed_keys() - set(keep):
        shutil.rmtree(os.path.join(table.data_dir, f"part_{key}"))
        os.remove(os.path.join(table.lineage_dir, f"part_{key}.json"))
    tmp = table.manifest_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"partitions": sorted(keep), "committed_at": time.time(),
                   "snapshot_id": hashlib.sha1(repr(keep).encode()).hexdigest()}, f)
    os.replace(tmp, table.manifest_path)


def _image_pipeline(spark, inp: Inputs) -> Outcome:
    """images -> footprints -> parquet -> sharded align into a committed
    table; then drop the later half of the commits and resume."""
    k = inp.extra["shards"]
    fp_path = inp.paths["footprints"] = f"{inp.dir}/footprints.parquet"
    table_dir = f"{inp.dir}/aligned"
    shutil.rmtree(table_dir, ignore_errors=True)
    ref = spark.read.parquet(inp.paths["ref"])
    cfg = AlignConfig(relevant_distances=[RD])
    problems = []

    t0 = time.perf_counter()
    extract_footprints(spark.read.parquet(inp.paths["images"])).write.mode(
        "overwrite"
    ).parquet(fp_path)
    fps = spark.read.parquet(fp_path)
    # shard by image number, not by theme_id hash, so that every shard
    # (and so the resumed half) holds the same number of themes
    themes = fps.select("theme_id", "geom_wkb",
                        F.element_at(F.split("image_id", "_"), -1).cast("int").alias("no"))
    t1 = time.perf_counter()
    table = CommittedTable(table_dir)
    first = checkpointed_align(spark, table, themes, ref, cfg, n_partitions=k,
                               broadcast_ref=True, shard_col="no")
    sig = signature(table.read(spark))
    t2 = time.perf_counter()

    if first["computed"] != k:
        problems.append(f"first run computed {first['computed']} of {k} shards")
    problems += _check_rows(sig, inp.n_themes, 1)
    got = {r.image_id: (r.caption, r.pixel_sha)
           for r in fps.select("image_id", "caption", "pixel_sha").collect()}
    if got != inp.extra["expected"]:
        problems.append("footprint caption/pixel_sha differ from the image table")

    keep = sorted(table.committed_keys())[: k // 2]
    _drop_commits(table, keep)
    t3 = time.perf_counter()
    again = checkpointed_align(spark, table, themes, ref, cfg, n_partitions=k,
                               broadcast_ref=True, shard_col="no")
    sig2 = signature(table.read(spark))
    resume_s = time.perf_counter() - t3
    if (again["computed"], again["skipped_committed"]) != (k - len(keep), len(keep)):
        problems.append(f"resume computed/skipped {again['computed']}/"
                        f"{again['skipped_committed']}, expected {k - len(keep)}/{len(keep)}")
    if sig2 != sig:
        problems.append("resumed table differs from the uninterrupted one")
    return Outcome(t2 - t0, t2 - t1, sig, problems, resume_s,
                   (again["computed"], again["skipped_committed"]))
