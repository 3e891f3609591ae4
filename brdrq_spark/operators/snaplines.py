"""Line/point alignment via vertex snapping (reference A10: experimental
(Multi)LineString/(Multi)Point support, CHANGES.md v0.11.0; SnapStrategy
enum NO_PREFERENCE / PREFER_VERTICES / ONLY_VERTICES /
PREFER_ENDS_AND_ANGLES with snap_max_segment_length=2,
plugin/brdrq/brdrq_utils.py:181-182, brdrq_settings.py:294-304).

Semantics pinned here: each polyline is densified so no segment exceeds
``snap_max_segment_length``, then every vertex within
``relevant_distance`` of a candidate reference boundary moves per the
strategy:

* NO_PREFERENCE          → nearest point on the boundary;
* PREFER_VERTICES        → nearest reference *vertex* if one is within
  rd, else nearest boundary point;
* ONLY_VERTICES          → nearest reference vertex within rd or stay;
* PREFER_ENDS_AND_ANGLES → treated as PREFER_VERTICES (parcel corners
  are its "angles"; the reference leaves the distinction undocumented).

Execution shape mirrors align(): fused cell join carrying WKBs, then a
partition-streaming pandas kernel with vectorized point-segment math.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from brdrq_spark.geom.core import _edges, _seg_point_dist2
from brdrq_spark.geom.wkb import lines_from_wkb, lines_to_wkb, rings_from_wkb_hybrid
from brdrq_spark.grid import pick_resolution
from brdrq_spark.worker import drop_zip_finders, stream_groups


SNAP_NO_PREFERENCE = "NO_PREFERENCE"
SNAP_PREFER_VERTICES = "PREFER_VERTICES"
SNAP_ONLY_VERTICES = "ONLY_VERTICES"
SNAP_PREFER_ENDS_AND_ANGLES = "PREFER_ENDS_AND_ANGLES"

SNAPLINE_SCHEMA = T.StructType(
    [
        T.StructField("theme_id", T.StringType()),
        T.StructField("result_wkb", T.BinaryType()),
        T.StructField("n_vertices", T.IntegerType()),
        T.StructField("n_snapped", T.IntegerType()),
        T.StructField("max_move", T.DoubleType()),
        T.StructField("brdr_remark", T.StringType()),
    ]
)


def densify(line: np.ndarray, max_seg: float) -> np.ndarray:
    """Insert vertices so no segment exceeds max_seg meters."""
    if len(line) < 2 or max_seg <= 0:
        return line
    out = [line[:1]]
    for i in range(len(line) - 1):
        p, q = line[i], line[i + 1]
        d = float(np.hypot(*(q - p)))
        n_extra = int(np.ceil(d / max_seg)) if d > max_seg else 1
        ts = np.linspace(0.0, 1.0, n_extra + 1)[1:]
        out.append(p[None, :] + ts[:, None] * (q - p)[None, :])
    return np.vstack(out)


def _snap_vertices(verts, edges, ref_verts, rd, strategy):
    """Vectorized snap of (m,2) verts against (e,4) edges / (v,2) ref
    vertices. Returns (snapped (m,2), moved mask)."""
    out = verts.copy()
    moved = np.zeros(len(verts), dtype=bool)
    if len(edges):
        d2 = _seg_point_dist2(
            verts[:, 0][:, None], verts[:, 1][:, None],
            edges[:, 0][None, :], edges[:, 1][None, :],
            edges[:, 2][None, :], edges[:, 3][None, :],
        )
        best = np.argmin(d2, axis=1)
        best_d = np.sqrt(d2[np.arange(len(verts)), best])
        # projection point on the best segment
        e = edges[best]
        dx = e[:, 2] - e[:, 0]
        dy = e[:, 3] - e[:, 1]
        ll = dx * dx + dy * dy
        t = np.clip(
            np.where(
                ll > 0,
                ((verts[:, 0] - e[:, 0]) * dx + (verts[:, 1] - e[:, 1]) * dy)
                / np.where(ll > 0, ll, 1.0),
                0.0,
            ),
            0.0,
            1.0,
        )
        proj = np.column_stack([e[:, 0] + t * dx, e[:, 1] + t * dy])
    else:
        best_d = np.full(len(verts), np.inf)
        proj = verts
    if len(ref_verts):
        vd2 = (
            (verts[:, 0][:, None] - ref_verts[:, 0][None, :]) ** 2
            + (verts[:, 1][:, None] - ref_verts[:, 1][None, :]) ** 2
        )
        vbest = np.argmin(vd2, axis=1)
        vbest_d = np.sqrt(vd2[np.arange(len(verts)), vbest])
        vpt = ref_verts[vbest]
    else:
        vbest_d = np.full(len(verts), np.inf)
        vpt = verts

    if strategy == SNAP_ONLY_VERTICES:
        m = vbest_d <= rd
        out[m] = vpt[m]
        moved |= m
    elif strategy in (SNAP_PREFER_VERTICES, SNAP_PREFER_ENDS_AND_ANGLES):
        mv = vbest_d <= rd
        out[mv] = vpt[mv]
        mb = (~mv) & (best_d <= rd)
        out[mb] = proj[mb]
        moved |= mv | mb
    else:  # NO_PREFERENCE
        m = best_d <= rd
        out[m] = proj[m]
        moved |= m
    return out, moved


def align_lines(
    spark: SparkSession,
    theme_df: DataFrame,
    ref_df: DataFrame,
    relevant_distance: float = 2.0,
    snap_strategy: str = SNAP_NO_PREFERENCE,
    snap_max_segment_length: float = 2.0,
    broadcast_ref: bool | None = None,
) -> DataFrame:
    """Snap thematic (Multi)LineStrings/Points to reference boundaries.

    theme_df: (theme_id, geom_wkb) with line/point WKB.
    Returns one row per theme with the snapped geometry + metrics.
    """
    rd = relevant_distance
    res = pick_resolution(rd)
    dilate = 2.0 * rd * 1.01

    from brdrq_spark.operators.candidates import plan_partitions

    par = spark.sparkContext.defaultParallelism
    if plan_partitions(theme_df) < par:
        theme_df = theme_df.repartition(par)
    if plan_partitions(ref_df) < par:
        ref_df = ref_df.repartition(par)

    # lines have no area; geo_features' bbox/cells work on rings only,
    # so compute the line bbox/cover with a dedicated pandas pass
    import pandas as pd_  # noqa: F401

    from brdrq_spark.grid import cell_cover_bbox

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def line_cells(wkb: pd.Series) -> pd.Series:
        drop_zip_finders()

        def cover(b):
            ls = lines_from_wkb(b)
            if not ls:
                return []
            allv = np.vstack(ls)
            return cell_cover_bbox(
                float(allv[:, 0].min()), float(allv[:, 1].min()),
                float(allv[:, 0].max()), float(allv[:, 1].max()),
                res, dilate,
            ).tolist()

        return wkb.map(cover)

    t_cells = theme_df.select(
        "theme_id",
        F.col("geom_wkb").alias("theme_wkb"),
        F.explode_outer(line_cells(F.col("geom_wkb"))).alias("cell"),
    )
    from brdrq_spark.operators.candidates import cells_exploded

    r_cells = cells_exploded(
        ref_df.select("ref_id", "geom_wkb"), "ref_id", res, 0.0, "r",
        wkb_out="ref_wkb",
    ).select("ref_wkb", "cell")
    if broadcast_ref:
        r_cells = F.broadcast(r_cells)
    grouped = (
        t_cells.join(r_cells, "cell")
        .select("theme_id", "theme_wkb", "ref_wkb")
        .unionByName(
            theme_df.select(
                "theme_id",
                F.col("geom_wkb").alias("theme_wkb"),
                F.lit(None).cast("binary").alias("ref_wkb"),
            )
        )
    )

    def _snap_one(pdf: pd.DataFrame) -> pd.DataFrame:
        theme_id = pdf["theme_id"].iloc[0]
        lines = lines_from_wkb(pdf["theme_wkb"].iloc[0])
        ref_wkbs = list(
            dict.fromkeys(bytes(b) for b in pdf["ref_wkb"] if b is not None)
        )
        ring_sets = rings_from_wkb_hybrid(ref_wkbs)
        edges = (
            np.vstack([_edges(rs) for rs in ring_sets if rs])
            if any(ring_sets)
            else np.zeros((0, 4))
        )
        ref_verts = (
            np.vstack([r for rs in ring_sets for r in rs])
            if any(ring_sets)
            else np.zeros((0, 2))
        )
        out_lines = []
        n_v = 0
        n_s = 0
        max_move = 0.0
        for line in lines:
            dense = densify(line, snap_max_segment_length) if len(line) > 1 else line
            snapped, moved = _snap_vertices(
                dense, edges, ref_verts, rd, snap_strategy
            )
            n_v += len(dense)
            n_s += int(moved.sum())
            if moved.any():
                max_move = max(
                    max_move,
                    float(np.hypot(*(snapped[moved] - dense[moved]).T).max()),
                )
            out_lines.append(snapped)
        remark = "" if ref_wkbs else "no_reference_candidates"
        return pd.DataFrame(
            [
                {
                    "theme_id": theme_id,
                    "result_wkb": lines_to_wkb(out_lines),
                    "n_vertices": n_v,
                    "n_snapped": n_s,
                    "max_move": max_move,
                    "brdr_remark": remark,
                }
            ]
        )

    return stream_groups(grouped, "theme_id", _snap_one, SNAPLINE_SCHEMA)
