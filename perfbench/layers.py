"""Traced run: spans around calls into each layer, and the per-layer census.

Spans are recorded by the benchmark around public calls into the
``brdrq_spark`` modules; nothing inside the package is instrumented. They
stay in memory and are written out once, when the run ends.

Layer -> the end-to-end metric it should move:

* ``session``: ``session.start_s`` -> ``setup_s`` on both workloads.
* theme source: ``source.themes_s`` is the scan of the theme parquet on
  sweep_rd_grid, and images -> ``operators.footprints`` / ``raster`` on
  image_pipeline_resume, where it moves ``norm_themes_per_s``.
* ``operators.candidates`` / ``grid``: ``candidates.*`` -> ``norm_themes_per_s``
  a little on image_pipeline_resume (one candidate join per shard job),
  hardly on sweep_rd_grid (one join for ~50 distances).
* ``operators.align``: ``align.kernel_s`` (plain align minus the candidate
  subtree) -> ``norm_themes_per_s`` on sweep_rd_grid, and on
  image_pipeline_resume through ``norm_resume_s`` as well.
* ``geom``: buffers -> sweep_rd_grid; boolean ops -> both.
* ``operators.evaluate`` / ``sources.manifest``: ``job.beyond_align_s`` is
  the job's align stage minus a plain ``align`` of the same themes over
  the same grid -- admission + stability scoring on sweep_rd_grid,
  sharding + commits on image_pipeline_resume -> ``norm_themes_per_s`` there,
  and ``norm_resume_s`` on image_pipeline_resume.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

from pyspark.sql import functions as F

from brdrq_spark.geom import clip as geom_clip
from brdrq_spark.geom import rings_from_wkb
from brdrq_spark.operators import align as align_mod
from brdrq_spark.operators.align import AlignConfig, align, align_candidate_rows
from brdrq_spark.operators.candidates import cells_exploded
from brdrq_spark.sources.manifest import CommittedTable

import workloads

# In-process kernel pass: themes sampled per workload (the sweep aligns
# each at ~50 distances, the footprints are large staircases).
GEOM_SAMPLE = {"sweep_rd_grid": 3, "image_pipeline_resume": 4}
REPEATS = 3  # census timings are medians of this many passes

# Public geom calls the kernel makes, by family. Names are patched in the
# module that calls them; only the outermost patched call is timed.
GEOM_FAMILIES = {
    "wkb_decode": [(align_mod, "rings_from_wkb"), (align_mod, "rings_from_wkb_hybrid"),
                   (align_mod, "polygon_bboxes_batch")],
    "boolean_op": [(align_mod, "boolean_op"), (align_mod, "area_of_op"),
                   (geom_clip, "boolean_op_multi")],
    "buffer": [(align_mod, "buffer_rings"), (align_mod, "open_rings"),
               (align_mod, "close_rings"), (align_mod, "erode_nonempty")],
    "wkb_encode": [(align_mod, "rings_to_wkb")],
}


class Spans:
    """In-memory span log: name, start, end, parent (seconds since start)."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.rows: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.rows)
        row = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self.t0, "end": None, **attrs}
        self.rows.append(row)
        self._stack.append(sid)
        try:
            yield row
        finally:
            self._stack.pop()
            row["end"] = time.perf_counter() - self.t0

    def durations(self, name: str) -> list[float]:
        return [r["end"] - r["start"] for r in self.rows if r["name"] == name]

    def write(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": self.rows}, f, indent=1)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median_span(spans: Spans, name: str, fn) -> float:
    for _ in range(REPEATS):
        with spans.span(name):
            fn()
    return statistics.median(spans.durations(name))


@contextmanager
def _manifest_spans(spans: Spans):
    """Spans around the committed table's write and publish calls."""
    saved = {m: getattr(CommittedTable, m) for m in ("write_partition", "publish_partition")}

    def wrap(m, fn):
        def timed(self, key, *a, **kw):
            with spans.span(f"manifest.{m}", key=key):
                return fn(self, key, *a, **kw)
        return timed

    for m, fn in saved.items():
        setattr(CommittedTable, m, wrap(m, fn))
    try:
        yield
    finally:
        for m, fn in saved.items():
            setattr(CommittedTable, m, fn)


@contextmanager
def traced_job(spans: Spans, name: str):
    with spans.span("job", workload=name), _manifest_spans(spans):
        yield


def _geom_pass(grouped, res, cfg: AlignConfig, n_sample: int) -> dict:
    """Run the align kernel in-process over a fixed sample of candidate
    groups, timing the public geom calls it makes (the method of
    scripts/profile_kernel.py, without the profiler)."""
    sample = [r.theme_id for r in grouped.select("theme_id").distinct()
              .orderBy("theme_id").limit(n_sample).collect()]
    rows = grouped.where(F.col("theme_id").isin(sample)).toPandas()
    kernel = align_mod._make_kernel(cfg, res)
    acc = {fam: [0.0, 0] for fam in GEOM_FAMILIES}
    depth = [0]

    def wrap(fam, fn):
        def timed(*a, **kw):
            if depth[0]:
                return fn(*a, **kw)
            depth[0] += 1
            t = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                acc[fam][0] += time.perf_counter() - t
                acc[fam][1] += 1
                depth[0] -= 1
        return timed

    saved = [(mod, attr, getattr(mod, attr)) for fams in GEOM_FAMILIES.values()
             for mod, attr in fams]
    for fam, fams in GEOM_FAMILIES.items():
        for mod, attr in fams:
            setattr(mod, attr, wrap(fam, getattr(mod, attr)))
    try:
        t = time.perf_counter()
        for tid in sample:
            kernel(rows[rows.theme_id == tid].reset_index(drop=True))
        total = time.perf_counter() - t
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)
    out = {"geom.groups": (len(sample), "count")}
    for fam, (sec, calls) in acc.items():
        out[f"geom.{fam}_s"] = (sec, "s")
    out["geom.boolean_op_calls"] = (acc["boolean_op"][1], "count")
    out["geom.buffer_calls"] = (acc["buffer"][1], "count")
    out["geom.kernel_self_s"] = (total - sum(s for s, _ in acc.values()), "s")
    return out


def census(spark, name: str, inp, spans: Spans, outcomes: list) -> dict:
    """Per-layer numbers for one workload, measured on its own inputs.
    ``outcomes`` are the run's timed jobs, which timed their own align
    stage and, on image_pipeline_resume, counted the resumed shards."""
    ref = spark.read.parquet(inp.paths["ref"])
    th = workloads.themes_df(spark, name, inp)
    cfg = workloads.align_config(name)
    out = {}

    src = workloads.source_df(spark, name, inp)
    out["source.themes_s"] = (_median_span(spans, "source.themes", lambda: _noop(src)), "s")
    wkbs = [r.geom_wkb for r in th.select("geom_wkb").collect()]
    nv = sum(len(ring) for w in wkbs for ring in rings_from_wkb(w)) / len(wkbs)
    out["source.vertices_per_theme"] = (nv, "count")

    grouped, res = align_candidate_rows(
        spark, th, ref, AlignConfig(relevant_distances=[max(cfg.relevant_distances)]), True)
    subtree = _median_span(spans, "candidates.subtree", lambda: _noop(grouped))
    out["candidates.subtree_s"] = (subtree, "s")
    with spans.span("candidates.counts"):
        per = (grouped.where(F.col("ref_wkb").isNotNull())
               .groupBy("theme_id")
               .agg(F.count(F.lit(1)).alias("rows"),
                    F.countDistinct(F.xxhash64("ref_wkb")).alias("pairs"))
               .agg(F.sum("rows").alias("rows"), F.sum("pairs").alias("pairs"),
                    F.max("pairs").alias("mx"))
               .collect()[0])
        ref_cells = cells_exploded(ref.select("ref_id", "geom_wkb"), "ref_id", res, 0.0,
                                   "r", wkb_out="ref_wkb").count()
    out["candidates.rows"] = (int(per.rows), "count")
    out["candidates.distinct_pairs"] = (int(per.pairs), "count")
    out["candidates.max_per_theme"] = (int(per.mx), "count")
    out["candidates.ref_cells"] = (int(ref_cells), "count")
    out["candidates.useful_ratio"] = (per.pairs / per.rows, "ratio")

    rows_out = []
    plain = _median_span(spans, "align.plain",
                         lambda: rows_out.append(align(spark, th, ref, cfg, True).count()))
    out["align.kernel_s"] = (plain - subtree, "s")
    out["align.rows_out"] = (rows_out[-1], "count")
    out["align.rds_per_theme"] = (rows_out[-1] / inp.n_themes, "count")
    align_stage = statistics.median(o.align_s for o in outcomes)
    out["job.beyond_align_s"] = (align_stage - plain, "s")

    with spans.span("geom.pass"):
        grid_grouped, _ = align_candidate_rows(spark, th, ref, cfg, True)
        out.update(_geom_pass(grid_grouped, res, cfg, GEOM_SAMPLE[name]))
    out["manifest.shards_computed"] = (outcomes[-1].shards[0], "count")
    out["manifest.shards_skipped"] = (outcomes[-1].shards[1], "count")
    return out
