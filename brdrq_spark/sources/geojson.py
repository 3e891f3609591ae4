"""GeoJSON FeatureCollection source/sink (reference S1/S8: layers are
loaded from .geojson fixtures — plugin/brdrq/test/test_autocorrectborders.py:
51-54 — and written back as FeatureCollections, brdrq_utils.py:775-838).

A FeatureCollection is ONE json object — the top-level parse is
inherently per-file — but the expensive per-feature geometry decode is
not: for a big single-file layer the read splits features out of the
file and decodes them across the cluster (see ``read_geojson``), so a
large file is single-task only for its linear json split. Hard limit:
the wholetext read materializes each file as one string value, capped
at ~2 GB by Spark/Arrow (and needing ~2-3x that transiently in one
worker) — beyond hundreds of MB, convert to Parquet/WKB for ingest;
GeoJSON here is the interop edge, not the durable format. Many-small-
files layouts keep the cheaper per-file pass. Geometry goes
through the normalization kernel (P1-P4: make_valid, Multi-promotion,
Z-drop). Spark's own JSON reader is unusable here: Polygon (3-deep) and
MultiPolygon (4-deep) coordinates break its schema inference.
"""

from __future__ import annotations

import json
import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from brdrq_spark.geom import normalize, rings_from_wkb, rings_to_wkb
from brdrq_spark.geom.core import ring_area
from brdrq_spark.geom.wkb import _group_polygons
from brdrq_spark.worker import drop_zip_finders

GEOJSON_SCHEMA = T.StructType(
    [
        T.StructField("feature_id", T.StringType()),
        T.StructField("geom_wkb", T.BinaryType()),
        T.StructField("props", T.MapType(T.StringType(), T.StringType())),
    ]
)


def geojson_geom_to_wkb(geom: dict | None) -> bytes:
    """Any supported GeoJSON geometry → WKB. Polygons go through ring
    normalization; (Multi)LineString / (Multi)Point (the reference's
    experimental non-polygon support, docs/qa.qmd:13-14) encode directly."""
    if geom is None:
        return rings_to_wkb([])
    gtype = geom.get("type", "")
    coords = geom.get("coordinates", [])
    if gtype in ("Polygon", "MultiPolygon") or not gtype:
        return rings_to_wkb(geojson_geom_to_rings(geom))
    from brdrq_spark.geom.wkb import lines_to_wkb

    if gtype == "Point":
        pts = [np.asarray([coords], dtype=np.float64)[:, :2]]
        return lines_to_wkb(pts)
    if gtype == "MultiPoint":
        pts = [np.asarray([c], dtype=np.float64)[:, :2] for c in coords]
        return lines_to_wkb(pts)
    if gtype == "LineString":
        return lines_to_wkb([np.asarray(coords, dtype=np.float64)[:, :2]])
    if gtype == "MultiLineString":
        return lines_to_wkb(
            [np.asarray(c, dtype=np.float64)[:, :2] for c in coords]
        )
    return rings_to_wkb([])


def geojson_geom_to_rings(geom: dict | None) -> list[np.ndarray]:
    """GeoJSON Polygon/MultiPolygon coordinates → normalized ring set."""
    if geom is None:
        return []
    gtype = geom.get("type", "")
    coords = geom.get("coordinates", [])
    polys = coords if gtype == "MultiPolygon" else [coords] if gtype == "Polygon" else []
    rings: list[np.ndarray] = []
    for poly in polys:
        for ri, ring in enumerate(poly):
            arr = np.asarray(ring, dtype=np.float64)[:, :2]  # drop Z
            if len(arr) > 1 and (arr[0] == arr[-1]).all():
                arr = arr[:-1]
            if len(arr) < 3:
                continue
            a = ring_area(arr)
            want_ccw = ri == 0
            if (a > 0) != want_ccw and a != 0:
                arr = arr[::-1]
            rings.append(arr)
    return normalize(rings)


def _feature_to_row(f: dict, i: int, id_field: str | None) -> dict:
    props = {
        str(k): (
            None
            if v is None
            else json.dumps(v)
            if isinstance(v, (dict, list))
            else str(v)
        )
        for k, v in (f.get("properties") or {}).items()
    }
    fid = props.get(id_field) if id_field else str(f.get("id", i))
    return {
        "feature_id": fid,
        "geom_wkb": geojson_geom_to_wkb(f.get("geometry")),
        "props": props,
    }


SPLIT_SIZE_BYTES = 64 << 20  # auto-split threshold for a single file


def _auto_split(path: str, spark: SparkSession | None = None) -> bool:
    """Pick the read shape from the input layout: a SINGLE file bigger
    than SPLIT_SIZE_BYTES wants the feature-split pipeline (per-file
    parallelism is zero); many files or small files keep the single-pass
    shape (the shuffle + double json parse would cost more than it
    buys). Scheme'd URIs (s3://, hdfs://, file://...) are probed through
    the Hadoop FileSystem API when a session is available — a directory
    of many small remote files keeps the cheaper single-pass shape
    instead of paying the split shuffle. Unresolvable paths (no session,
    unreachable filesystem, odd globs) default to split — the scale-safe
    choice when nothing is known."""
    import glob as _glob
    import os as _os

    if "://" in path:
        if spark is None:
            return True
        try:
            jvm = spark._jvm
            hpath = jvm.org.apache.hadoop.fs.Path(path)
            fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
            statuses = fs.globStatus(hpath)
            if statuses is None or len(statuses) == 0:
                return True
            files = []
            for st in statuses:
                if st.isDirectory():
                    # descend TWO levels: a dir-of-dirs (partitioned
                    # export, e.g. write_geojson_parts per-key output)
                    # must count its leaf files, not read as files==[]
                    # and silently pay the split shuffle on many small
                    # inputs
                    for sub in fs.listStatus(st.getPath()):
                        name = sub.getPath().getName()
                        if name.startswith((".", "_")):
                            continue
                        if sub.isFile():
                            files.append(sub)
                        elif sub.isDirectory():
                            files += [
                                leaf
                                for leaf in fs.listStatus(sub.getPath())
                                if leaf.isFile()
                                and not leaf.getPath().getName().startswith((".", "_"))
                            ]
                elif st.isFile():
                    files.append(st)
            if not files:
                return True
            return len(files) == 1 and files[0].getLen() > SPLIT_SIZE_BYTES
        except Exception:
            return True
    p = path
    matches = _glob.glob(p) if any(c in p for c in "*?[") else [p]
    files: list[str] = []
    for m in matches:
        if _os.path.isdir(m):
            for f in _os.listdir(m):
                if f.startswith((".", "_")):
                    continue
                fp = _os.path.join(m, f)
                if _os.path.isfile(fp):
                    files.append(fp)
                elif _os.path.isdir(fp):  # dir-of-dirs: count leaf files
                    files += [
                        lp
                        for leaf in _os.listdir(fp)
                        if not leaf.startswith((".", "_"))
                        and _os.path.isfile(lp := _os.path.join(fp, leaf))
                    ]
        elif _os.path.isfile(m):
            files.append(m)
    if not files:
        return True
    return len(files) == 1 and _os.path.getsize(files[0]) > SPLIT_SIZE_BYTES


def read_geojson(
    spark: SparkSession,
    path: str,
    id_field: str | None = None,
    split_features: bool | None = None,
) -> DataFrame:
    """FeatureCollection file(s) → DataFrame(feature_id, geom_wkb, props).

    A FeatureCollection is ONE json object, so the top-level parse of a
    file is inherently one task — but the expensive half (coordinate
    array decode, ring normalization, WKB encode — the bulk of the work
    on real layers) is per-feature. With ``split_features=True`` the
    read is two stages: stage 1 parses each file once and emits the
    features back out as JSON strings (chunked, memory-bounded), a
    repartition spreads them across the cluster, and stage 2 decodes
    geometry in parallel — one task holds only the linear json split,
    not the whole geometry decode. (The wholetext single-value cap of
    ~2 GB still bounds the file size — see the module docstring.)
    ``split_features=False`` keeps the single-pass per-file parse (the
    right shape for many small files, where the extra shuffle and
    double json parse would dominate). The ``None`` default picks per
    ``_auto_split``: split only for one big (>64 MB) or unresolvable
    input."""
    if split_features is None:
        split_features = _auto_split(path, spark)
    files = spark.read.text(path, wholetext=True)

    if not split_features:

        def parse(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            drop_zip_finders()
            for pdf in it:
                rows = []
                for txt in pdf["value"]:
                    if not txt or not txt.strip():
                        continue  # empty part file (empty partition)
                    fc = json.loads(txt)
                    for i, f in enumerate(fc.get("features", [])):
                        rows.append(_feature_to_row(f, i, id_field))
                yield pd.DataFrame(
                    rows, columns=["feature_id", "geom_wkb", "props"]
                )

        return files.mapInPandas(parse, schema=GEOJSON_SCHEMA)

    chunk = 4096

    def split(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in it:
            for txt in pdf["value"]:
                if not txt or not txt.strip():
                    continue  # empty part file (empty partition)
                fc = json.loads(txt)
                feats = fc.get("features", [])
                for lo in range(0, len(feats), chunk):
                    part = feats[lo : lo + chunk]
                    yield pd.DataFrame(
                        {
                            "idx": range(lo, lo + len(part)),
                            "feature": [json.dumps(f) for f in part],
                        }
                    )

    feat_rows = files.mapInPandas(split, schema="idx long, feature string")
    par = spark.sparkContext.defaultParallelism
    feat_rows = feat_rows.repartition(par * 2)

    def decode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in it:
            rows = [
                _feature_to_row(json.loads(s), int(i), id_field)
                for i, s in zip(pdf["idx"], pdf["feature"])
            ]
            yield pd.DataFrame(rows, columns=["feature_id", "geom_wkb", "props"])

    return feat_rows.mapInPandas(decode, schema=GEOJSON_SCHEMA)


@F.pandas_udf(T.StringType())
def wkb_to_geojson_udf(wkb: pd.Series) -> pd.Series:
    drop_zip_finders()

    def conv(b):
        if not b:
            return None
        polys = _group_polygons(rings_from_wkb(b))
        coords = [[np.vstack([r, r[:1]]).tolist() for r in poly] for poly in polys]
        return json.dumps({"type": "MultiPolygon", "coordinates": coords})

    return wkb.map(conv)


def _json_safe(v):
    """JSON-safe property conversion shared by BOTH GeoJSON writers:
    collected Rows and Arrow-batch pandas hand back numpy scalars,
    ndarrays (array columns), Timestamps, dates, Decimals, NaN/NaT —
    json.dumps chokes on all of them, and bare NaN/Infinity tokens are
    not valid strict JSON anyway."""
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, np.ndarray):
        return [_json_safe(x) for x in v.tolist()]
    if isinstance(v, (list, tuple)):
        return [_json_safe(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _json_safe(x) for k, x in v.items()}
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        return v if np.isfinite(v) else None
    try:
        if pd.isna(v):  # NaT and friends
            return None
    except (TypeError, ValueError):
        pass
    if hasattr(v, "isoformat"):  # Timestamp / date / time
        return v.isoformat()
    return str(v)  # Decimal and anything else stringifies


def write_geojson(
    df: DataFrame, path: str, geom_col: str = "geom_wkb", max_rows: int = 100_000
) -> None:
    """Collect to a single FeatureCollection file (driver-side; result
    layers are small — the distributed durable sink is Parquet).
    ``max_rows`` guards against pointing this interop sink at a big
    table: a FeatureCollection is one JSON object, inherently
    driver-side — use the Parquet sink for anything larger."""
    # Single execution: collect limit(max_rows+1) once and check the length
    # instead of a count() + collect() pair that runs the upstream plan twice.
    rows = (
        df.withColumn("_gj", wkb_to_geojson_udf(F.col(geom_col)))
        .limit(max_rows + 1)
        .collect()
    )
    if len(rows) > max_rows:
        raise ValueError(
            f"write_geojson is a small-result interop sink: >{max_rows} rows; "
            f"write Parquet instead"
        )
    feats = []
    for r in rows:
        d = r.asDict(recursive=True)
        gj = d.pop("_gj")
        d.pop(geom_col, None)
        props = {k: _json_safe(v) for k, v in d.items()}
        feats.append(
            {
                "type": "Feature",
                "geometry": json.loads(gj) if gj else None,
                "properties": props,
            }
        )
    with open(path, "w") as f:
        json.dump({"type": "FeatureCollection", "features": feats}, f)


# Sharded-FeatureCollection part header: _part_header is the only
# producer, _PART_HEADER_RE the only consumer, and a unit test next to
# the writer pins that they agree — the index derivation prefix-reads
# this from each written file, so the layout is part of the on-disk
# format, not an accident of json.dumps defaults.
# bytes; header is ~80 chars, margin for long counts. Read via
# InputStream.readNBytes(int), which exists on Java 9+ only — fine for
# Spark 4.x (Java 17+ floor) and this repo's runtime; a Java 8 / Spark
# 3.x deployment would need the index-derivation read replaced with a
# Hadoop IOUtils.readFully loop into a py4j-allocated byte[] (ADVICE r7).
_HEADER_READ = 256
_PART_HEADER_RE = re.compile(
    r'^\{"type": "FeatureCollection", "part_id": "([^"]+)", "n_features": (\d+)\}'
)


def _part_header(part_id: str, n_features: int) -> str:
    return json.dumps(
        {
            "type": "FeatureCollection",
            "part_id": part_id,
            "n_features": n_features,
        }
    )


def _parse_part_header(prefix: str) -> tuple[str, int]:
    # match against the header re-closed as its own object (the written
    # line continues with `, "features": …`)
    m = _PART_HEADER_RE.match(prefix.split(', "features"')[0] + "}")
    if not m:
        raise ValueError(f"unrecognized GeoJSON part header: {prefix[:80]!r}")
    return m.group(1), int(m.group(2))


def write_geojson_parts(
    spark: SparkSession, df: DataFrame, path: str, geom_col: str = "geom_wkb"
) -> dict:
    """Distributed GeoJSON export: ONE FeatureCollection file per
    partition under ``path`` plus an ``_index.json`` manifest (part ids,
    per-part feature counts, totals).

    ``write_geojson`` hard-caps at 100k rows because a FeatureCollection
    is a single JSON object, inherently one writer; this sink keeps the
    interop format but shards it — every task serializes its own
    partition into one FeatureCollection (with ``part_id``/``n_features``
    foreign members, which the GeoJSON spec allows) and the files land
    through Spark's text writer, so any Hadoop filesystem works and the
    write runs with full parallelism. Each output file holds one whole
    partition: repartition upstream to size the shards. The index is
    written through the Hadoop FS API (object stores included) and is
    ``_``-prefixed so ``read_geojson`` on the directory skips it — a
    round-trip through ``read_geojson(path)`` returns every feature.
    Returns the index dict."""
    from pyspark import TaskContext

    gj_df = df.withColumn("_gj", wkb_to_geojson_udf(F.col(geom_col)))

    def to_fc(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        feats: list[dict] = []
        for pdf in it:
            # positional zip: itertuples would mangle the _gj column name
            for r in pdf.itertuples(index=False):
                vals = dict(zip(pdf.columns, r))
                gj = vals.pop("_gj", None)
                vals.pop(geom_col, None)
                feats.append(
                    {
                        "type": "Feature",
                        "geometry": json.loads(gj) if gj else None,
                        "properties": {c: _json_safe(v) for c, v in vals.items()},
                    }
                )
        if not feats:
            return
        # DETERMINISTIC part id (the Spark partition ordinal): the index
        # collect() and the text write are two actions over the persisted
        # rows, and a lost block recomputes the partition between them —
        # a random id would then disagree between _index.json and the
        # file's embedded id, leaving consumers with phantom parts
        ctx = TaskContext.get()
        part_id = f"part-{ctx.partitionId():05d}" if ctx else "part-00000"
        # header serialized SEPARATELY and spliced ahead of the feature
        # payload: the index derivation prefix-reads it with
        # _PART_HEADER_RE, so its byte layout must not drift with however
        # the (large) feature array serializes. _part_header is the one
        # producer; the regex + a unit test pin the format.
        yield pd.DataFrame(
            {
                "value": [
                    _part_header(part_id, len(feats))[:-1]
                    + ', "features": '
                    + json.dumps(feats)
                    + "}"
                ]
            }
        )

    fc_rows = gj_df.mapInPandas(to_fc, schema="value string")
    # single action over the upstream plan: the text write. The index is
    # then derived from the WRITTEN files — the one source of truth — so
    # it can never disagree with them (a second action over persisted
    # rows could: an evicted block after a nondeterministic shuffle
    # recomputes a partition whose n_features differs from what was
    # written). Only the first _HEADER_READ bytes of each part file are
    # read (Hadoop FS API) — a full spark.read.text pass would
    # re-materialize every written byte just to take a 160-char prefix.
    fc_rows.write.mode("overwrite").text(path)
    jvm = spark._jvm
    dpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = dpath.getFileSystem(spark._jsc.hadoopConfiguration())
    parts = []
    for st in fs.listStatus(dpath):
        name = st.getPath().getName()
        if name.startswith(("_", ".")) or st.getLen() == 0:
            continue
        ins = fs.open(st.getPath())
        try:
            # readNBytes RETURNS the byte[] (py4j → bytes); an in/out
            # buffer argument would not round-trip through py4j.
            # Java 9+ API — see the _HEADER_READ note for the (unneeded
            # on Spark 4's Java 17 floor) Java 8 alternative
            buf = ins.readNBytes(_HEADER_READ)
        finally:
            ins.close()
        pid, cnt = _parse_part_header(bytes(buf).decode("utf-8", "replace"))
        parts.append({"part_id": pid, "n_features": cnt})
    index = {
        "format": "geojson_parts",
        "n_parts": len(parts),
        "total_features": int(sum(p["n_features"] for p in parts)),
        "parts": sorted(parts, key=lambda p: p["part_id"]),
    }
    # index through the Hadoop FS API: works on every scheme the text
    # writer just used, not only POSIX mounts
    jvm = spark._jvm
    ipath = jvm.org.apache.hadoop.fs.Path(path, "_index.json")
    fs = ipath.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(ipath, True)
    try:
        out.write(bytearray(json.dumps(index).encode("utf-8")))
    finally:
        out.close()
    return index
