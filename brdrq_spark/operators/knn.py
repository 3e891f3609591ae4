"""kNN nearest-boundary-segment search (J6 — mandated by the north_star:
"point-in-polygon and kNN-nearest-boundary-segment refinement").

For every vertex of a thematic footprint, find the k nearest reference
boundary segments. Execution shape: the cell-join candidate pairs bound
the search (a vertex's nearest segments lie on candidate parcels within
the dilated cover by construction), then a grouped pandas kernel does
the exact vectorized point-segment distances — a per-partition index
without any cross-partition traffic. Vertices with no candidate segment
within the radius are ABSENT from the output (no rank-0 placeholder
rows); ``knn_with_escalation`` wraps the search in the expanding-ring
retry (SURVEY §2.3 J6: "search ring r, r+1…"): it anti-joins the
output against the vertex set and re-runs only the uncovered vertices'
themes at a widened radius (r, growth·r, growth²·r … capped), so
sparse-area vertices (rural parcels, map edges — the reference's
bbox-then-refine escalation always returns a candidate set,
plugin/brdrq/brdrq_dockwidget_featurealigner.py:1653-1667) are found
without hand-written retry loops.

Skew ceiling removed (round-4): grouping by theme_id alone lets one
giant theme in a dense area gather ALL its candidate segments into a
single task. Candidates are therefore hash-partitioned into sub-groups
of <= ``max_refs_per_group`` reference parcels per (theme, group); the
kernel computes per-vertex top-k inside each sub-group, and a window
re-rank merges them exactly — the union of per-group top-k sets
contains the global top-k, because each group's kept set includes its
own k smallest distances (or everything within the radius, whichever
is fewer). The merge key (theme_id, vertex_idx) is fine-grained, so no
single task ever sees more than k x n_groups rows per vertex.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from brdrq_spark.geom import rings_from_wkb
from brdrq_spark.geom.core import _edges, _seg_point_dist2
from brdrq_spark.operators.candidates import candidate_pairs
from brdrq_spark.worker import drop_zip_finders

KNN_SCHEMA = T.StructType(
    [
        T.StructField("theme_id", T.StringType()),
        T.StructField("vertex_idx", T.IntegerType()),
        T.StructField("vx", T.DoubleType()),
        T.StructField("vy", T.DoubleType()),
        T.StructField("ref_id", T.StringType()),
        T.StructField("seg_idx", T.IntegerType()),
        T.StructField("dist", T.DoubleType()),
        T.StructField("rank", T.IntegerType()),
    ]
)


def knn_boundary_segments(
    spark: SparkSession,
    theme_df: DataFrame,
    ref_df: DataFrame,
    k: int = 3,
    search_radius: float = 10.0,
    max_refs_per_group: int = 256,
) -> DataFrame:
    """One row per (theme vertex, neighbor segment), rank 1..k by
    distance (ties broken by ref_id, seg_idx — deterministic, identical
    inside the kernel's lexsort and the cross-group window merge)."""
    pairs = candidate_pairs(theme_df, ref_df, max_rd=search_radius / 2.0)
    # sub-group sizing is per theme: n_groups = ceil(candidates / cap),
    # assignment by hash so every ref lands in exactly one group (no
    # duplicate (vertex, segment) rows to dedup at merge time). The
    # count is attached by a window over the pair table — deliberately
    # NOT a groupBy + self-join: pairs is exactly two narrow key
    # columns, so the window shuffles ~30 bytes/row once, while a
    # self-join against its own aggregate re-executes the whole
    # decode + cell-join + distinct subtree twice (measured on the
    # executed plan: 4 MapInPandas nodes and 0 ReusedExchange vs 2
    # MapInPandas for the single-pass window shape)
    wcnt = Window.partitionBy("theme_id")
    n_groups = F.greatest(
        F.ceil(F.count("*").over(wcnt) / F.lit(max_refs_per_group)), F.lit(1)
    )
    pairs = pairs.withColumn(
        "_sub", F.pmod(F.xxhash64("ref_id"), n_groups).cast("int")
    )
    t = theme_df.select("theme_id", F.col("geom_wkb").alias("theme_wkb"))
    r = ref_df.select("ref_id", F.col("geom_wkb").alias("ref_wkb"))
    grouped = (
        t.join(pairs, "theme_id", "left")
        .withColumn("_sub", F.coalesce(F.col("_sub"), F.lit(0)))
        .join(r, "ref_id", "left")
        .select("theme_id", "_sub", "theme_wkb", "ref_id", "ref_wkb")
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        drop_zip_finders()
        theme_id = pdf["theme_id"].iloc[0]
        rings = rings_from_wkb(pdf["theme_wkb"].iloc[0])
        if not rings:
            return pd.DataFrame(columns=[f.name for f in KNN_SCHEMA.fields])
        verts = np.vstack(rings)
        segs = []
        seg_ref = []
        seg_idx = []
        for rid, rwkb in zip(pdf["ref_id"], pdf["ref_wkb"]):
            if rwkb is None:
                continue
            e = _edges(rings_from_wkb(rwkb))
            segs.append(e)
            seg_ref.extend([rid] * len(e))
            seg_idx.extend(range(len(e)))
        out_rows = []
        if segs:
            E = np.vstack(segs)
            d2 = _seg_point_dist2(
                verts[:, 0][:, None], verts[:, 1][:, None],
                E[:, 0][None, :], E[:, 1][None, :],
                E[:, 2][None, :], E[:, 3][None, :],
            )
            d = np.sqrt(d2)
            seg_ref_arr = np.asarray(seg_ref)
            seg_idx_arr = np.asarray(seg_idx)
            for vi in range(len(verts)):
                dv = d[vi]
                # deterministic k-smallest: sort by (dist, ref, seg)
                order = np.lexsort((seg_idx_arr, seg_ref_arr, dv))[:k]
                for rank, si in enumerate(order, start=1):
                    if dv[si] > search_radius:
                        break
                    out_rows.append(
                        {
                            "theme_id": theme_id,
                            "vertex_idx": vi,
                            "vx": float(verts[vi, 0]),
                            "vy": float(verts[vi, 1]),
                            "ref_id": str(seg_ref_arr[si]),
                            "seg_idx": int(seg_idx_arr[si]),
                            "dist": float(dv[si]),
                            "rank": rank,
                        }
                    )
        return pd.DataFrame(
            out_rows, columns=[f.name for f in KNN_SCHEMA.fields]
        )

    per_group = grouped.groupBy("theme_id", "_sub").applyInPandas(
        kernel, schema=KNN_SCHEMA
    )
    # exact cross-group merge: re-rank each vertex's union of per-group
    # top-k candidates under the SAME deterministic order as the
    # kernel's lexsort, keep global rank <= k
    wv = Window.partitionBy("theme_id", "vertex_idx").orderBy(
        "dist", "ref_id", "seg_idx"
    )
    return (
        per_group.withColumn("rank", F.row_number().over(wv))
        .where(F.col("rank") <= k)
    )


def theme_vertices(theme_df: DataFrame) -> DataFrame:
    """One row per polygon vertex: (theme_id, vertex_idx, vx, vy) —
    the vertex enumeration the kNN kernel uses (np.vstack over rings),
    so anti-joins against kNN output line up index-for-index."""

    def explode(it):
        drop_zip_finders()
        for pdf in it:
            tids: list[str] = []
            idxs: list[int] = []
            xs: list[float] = []
            ys: list[float] = []
            for tid, wkb in zip(pdf["theme_id"], pdf["geom_wkb"]):
                rings = rings_from_wkb(wkb)
                if not rings:
                    continue
                v = np.vstack(rings)
                tids.extend([tid] * len(v))
                idxs.extend(range(len(v)))
                xs.extend(v[:, 0].tolist())
                ys.extend(v[:, 1].tolist())
            yield pd.DataFrame(
                {"theme_id": tids, "vertex_idx": idxs, "vx": xs, "vy": ys}
            )

    return theme_df.select("theme_id", "geom_wkb").mapInPandas(
        explode, schema="theme_id string, vertex_idx int, vx double, vy double"
    )


def knn_with_escalation(
    spark: SparkSession,
    theme_df: DataFrame,
    ref_df: DataFrame,
    k: int = 3,
    search_radius: float = 10.0,
    max_radius: float = 80.0,
    growth: float = 2.0,
    max_refs_per_group: int = 256,
    materialize: bool = False,
) -> DataFrame:
    """Expanding-ring kNN (J6 escalation): run the bounded search at
    ``search_radius``; vertices it leaves uncovered re-run at
    ``growth * r``, then ``growth² * r`` … until ``max_radius``.

    Each ring touches only the themes that still own uncovered
    vertices (left-semi against the uncovered set), and keeps only the
    uncovered vertices' rows — covered vertices never recompute and
    never duplicate. Ranks within an escalated vertex's rows are the
    ranks of its own ring's search, consistent with a fresh
    ``knn_boundary_segments`` call at that radius. Vertices with no
    reference segment within ``max_radius`` remain absent (the cap is
    the caller's completeness/cost dial; the reference's interactive
    escalation is likewise bounded by the canvas extent).

    Driver-side loop: at most ``log_growth(max_radius/search_radius)``
    rounds (4 at the defaults), each a lazy Spark job over a shrinking
    theme subset — the common case (everything covered in ring 1) pays
    one extra empty-anti-join count. Ring outputs persist so the next
    ring's anti-join does not re-execute the prior ring's subtree;
    each uncovered generation is counted (full materialization, so the
    count doubles as the cache fill) and its predecessor unpersisted —
    at cluster scale a 4-ring escalation must not leave four stale
    shrinking vertex sets pinned in executor storage.

    Cache contract: with ``materialize=False`` (default, lazy) the
    returned plan still references the base + per-ring persisted
    DataFrames — the caller's first action fills them, and they stay
    pinned until the caller is done with the result. Pass
    ``materialize=True`` to consolidate: the union is persisted and
    counted once, every ring cache is released before returning, and
    the caller owns exactly ONE persisted DataFrame (unpersist it when
    finished). Long-lived sessions should use ``materialize=True``."""
    from pyspark import StorageLevel

    if growth <= 1.0:
        # growth <= 1 never advances r: the loop would re-run the same
        # radius against an unchanged uncovered set forever
        raise ValueError(f"growth must be > 1.0, got {growth}")
    verts = theme_vertices(theme_df)
    out = knn_boundary_segments(
        spark, theme_df, ref_df, k, search_radius, max_refs_per_group
    ).persist(StorageLevel.MEMORY_AND_DISK)
    acc = out
    pinned = [out]
    uncovered = verts.join(
        out.select("theme_id", "vertex_idx"), ["theme_id", "vertex_idx"], "left_anti"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    n_uncovered = uncovered.count()
    r = search_radius * growth
    while r <= max_radius and n_uncovered > 0:
        themes_left = theme_df.join(
            uncovered.select("theme_id").distinct(), "theme_id", "left_semi"
        )
        ring = knn_boundary_segments(
            spark, themes_left, ref_df, k, r, max_refs_per_group
        ).join(
            uncovered.select("theme_id", "vertex_idx"),
            ["theme_id", "vertex_idx"],
            "left_semi",
        ).persist(StorageLevel.MEMORY_AND_DISK)
        pinned.append(ring)
        acc = acc.unionByName(ring)
        nxt = uncovered.join(
            ring.select("theme_id", "vertex_idx"),
            ["theme_id", "vertex_idx"],
            "left_anti",
        ).persist(StorageLevel.MEMORY_AND_DISK)
        n_uncovered = nxt.count()  # fills nxt's AND ring's cache
        uncovered.unpersist()
        uncovered = nxt
        r *= growth
    uncovered.unpersist()
    if materialize:
        acc = acc.persist(StorageLevel.MEMORY_AND_DISK)
        acc.count()  # fill the consolidated cache, then release the rings
        # zero-escalation case: acc IS pinned[0] (persist on an already-
        # persisted DF is a no-op returning the same DataFrame), so
        # unpersisting it would release the cache we just handed to the
        # caller and every caller action would recompute the kNN subtree
        for h in pinned:
            if h is not acc:
                h.unpersist()
    return acc
