"""Page geo-resolution + cell-bucketed spatial join (the flagship path).

Pipeline (SURVEY.md §7.2 minimum slice):

  pages scan → coordinate extraction (meta/text, JVM regex or Arrow UDF)
            → hostname-hint fallback (a host → coordinate table carried
              in the UDF closure, probed for the unresolved rows only)
            → LAEA projection + cell id (numpy in the same UDF pass)
            → point-in-polygon against the broadcast PolyIndex
              (cell probe + exact ray-cast refine, J6)
            → groupBy(nuts_id).count() (G-agg)

Scale shape: the polygon side (NUTS ≈ 1.5 k, LAU ≈ 1e5) is driver-built
and broadcast once — the trillion-row page side is processed map-side
with ZERO shuffle until the final partial+final count aggregation.
Reference semantics: rasterize burns (``/root/reference/src/
data_engineering/raster_processor.py:154-188, 269-291``) and PostGIS
``ST_Intersects`` (``scripts/old_files/sql/rasterize_gpop.sql:7-8``).

The broadcast index is probed inside pandas UDFs; Spark's broadcast
machinery unpickles it once per Python worker process, not per task
(SURVEY.md §7.4 risk 6). Each Arrow batch is handled array-at-a-time:
one CSR probe of the index (``geo.index.assign_points``), one hint lookup
over the rows still missing a coordinate, one gather for the poly ids.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..extract import html as hx
from ..geo import cells as gcells
from ..geo import index as gindex
from ..geo import proj

RESOLVED_FIELDS = (
    "lat double, lon double, x double, y double, cell bigint, method string"
)


def _hint_table(host_hints: pd.DataFrame | None):
    """host → (lat, lon) as a (hosts Index, (n, 2) array) pair, or None.
    Small (≤ a few thousand hosts): it travels in the UDF closure. A
    host listed twice keeps its last coordinate."""
    if host_hints is None or not len(host_hints):
        return None
    hints = {r.host: (float(r.lat), float(r.lon)) for r in host_hints.itertuples()}
    return pd.Index(list(hints), dtype=object), np.array(list(hints.values()))


def _fill_from_hints(hints, url: pd.Series, lat: np.ndarray, lon: np.ndarray):
    """Give each row without a coordinate its host's hint, in place, and
    return the filled row positions. Hosts are parsed for those rows
    only, and matched with one vectorized hash lookup."""
    miss = np.flatnonzero(np.isnan(lat))
    if hints is None or not len(miss):
        return miss[:0]
    hosts, coords = hints
    pos = hosts.get_indexer(hx.host_series(url.iloc[miss]))
    got = pos >= 0
    rows, pos = miss[got], pos[got]
    lat[rows], lon[rows] = coords[pos, 0], coords[pos, 1]
    return rows


def _py_coords(b: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """(lat, lon) per row from the Python twins of the coordinate
    regexes (``hx.extract_coords``); NaN where neither matches."""
    lat = np.full(len(b), np.nan)
    lon = np.full(len(b), np.nan)
    for i, (h, t) in enumerate(zip(b["html"].tolist(), b["text"].tolist())):
        got = hx.extract_coords(h, t)
        if got is not None:
            lat[i], lon[i] = got
    return lat, lon


def _poly_column(idx, names, x, y, boundary: str, match: str) -> np.ndarray:
    """Object column of the polygon id covering each point (``None``
    where unresolved or unmatched), filled with one gather."""
    poly = np.full(len(x), None, dtype=object)
    ok = np.flatnonzero(np.isfinite(x) & np.isfinite(y))
    if len(ok):
        rows, ords = gindex.assign_points(
            idx, x[ok], y[ok], boundary=boundary, match=match
        )
        poly[ok[rows]] = names[ords]
    return poly


def resolve_pages(
    spark: SparkSession,
    pages: DataFrame,
    host_hints: pd.DataFrame | None = None,
    res: int = gcells.RES_DEFAULT,
) -> DataFrame:
    """Add (lat, lon, x, y, cell, method) to a pages DataFrame.

    One ``mapInPandas`` pass does extraction + projection + cell id —
    a single JVM↔Python Arrow crossing per batch. Hostname fallback is a
    tiny host table carried inside the closure (broadcast by task
    serialization; ≤ a few thousand entries) — rows with no signal keep
    nulls, they must survive, not be dropped (FIXTURES.md §1).
    """
    hints = _hint_table(host_hints)

    # output only url + lang + computed fields — never ship the html
    # payload back through Arrow
    out_schema = "url string, lang string, " + RESOLVED_FIELDS

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            lat, lon = _py_coords(b)
            method = np.where(np.isnan(lat), None, "inline")
            method[_fill_from_hints(hints, b["url"], lat, lon)] = "host"
            x, y = proj.forward(lon, lat)
            ok = np.isfinite(x) & np.isfinite(y)
            cell = np.where(
                ok,
                gcells.cell_id(np.where(ok, x, 0.0), np.where(ok, y, 0.0), res),
                -1,
            )
            yield pd.DataFrame(
                {
                    "url": b["url"],
                    "lang": b["lang"],
                    "lat": lat,
                    "lon": lon,
                    "x": np.where(ok, x, np.nan),
                    "y": np.where(ok, y, np.nan),
                    "cell": cell.astype(np.int64),
                    "method": method,
                }
            )

    return pages.select("url", "lang", "html", "text").mapInPandas(
        fn, schema=out_schema
    )


def build_polygon_index_bc(
    spark: SparkSession,
    polygons_df: DataFrame,
    id_col: str = "nuts_id",
    geom_col: str = "geometry",
    res: int = gcells.RES_DEFAULT,
):
    """Collect the (small) polygon side, build the PolyIndex on the
    driver, broadcast it. Polygon tables at NUTS/LAU scale are ≤ 1e5 rows
    (SURVEY.md §1.1.2) — collect is the intended plan, like the
    reference loading shapefiles whole (raster_processor.py:43-49)."""
    rows = polygons_df.select(id_col, geom_col).collect()
    idx = gindex.build_index([(r[0], bytes(r[1])) for r in rows], res=res)
    return spark.sparkContext.broadcast(idx)


def assign_polygons(
    resolved: DataFrame,
    idx_bc,
    boundary: str = "include",
    match: str = "last",
    keep_cols: tuple[str, ...] = ("url",),
) -> DataFrame:
    """Exact point→polygon assignment via the broadcast index.

    Map-side only (no shuffle): each Arrow batch probes the index and
    emits (keep_cols…, x, y, cell, poly_id). Unresolved / unmatched rows
    emit poly_id = NULL so downstream can count coverage.

    ``match='last'`` (default) = reference MergeAlg.replace burn order
    (last polygon wins, ``raster_processor.py:167-175``); ``'first'`` =
    priority-ordered input; ``'all'`` = one row per covering polygon
    (overlap counting, G3).
    """
    in_cols = list(keep_cols) + ["x", "y"]
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in resolved.select(*in_cols).schema.fields
    ) + ", poly_id string"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = idx_bc.value
        names = np.asarray(idx.poly_ids, dtype=object)
        for b in batches:
            x = b["x"].to_numpy(dtype=np.float64, na_value=np.nan)
            y = b["y"].to_numpy(dtype=np.float64, na_value=np.nan)
            if match == "all":
                ok = np.isfinite(x) & np.isfinite(y)
                if ok.any():
                    # multi-match: emit one row per (point, polygon) pair
                    rows, ords = gindex.assign_points(
                        idx, x[ok], y[ok], boundary=boundary, match=match
                    )
                    ok_idx = np.flatnonzero(ok)
                    out = b[in_cols].iloc[ok_idx[rows]].copy()
                    out["poly_id"] = names[ords]
                    miss = np.ones(len(b), dtype=bool)
                    miss[ok_idx[rows]] = False
                    rest = b[in_cols][miss].copy()
                    rest["poly_id"] = None
                    yield pd.concat([out, rest], ignore_index=True)
                    continue
            out = b[in_cols].copy()
            out["poly_id"] = _poly_column(idx, names, x, y, boundary, match)
            yield out

    return resolved.mapInPandas(fn, schema=out_schema)


# Java-regex twins of extract/html.py's _GEO_META_RE / _COORD_TEXT_RE —
# the coordinate extraction is pure regex, so it can run JVM-side on
# the (lossy-UTF-8-decoded) html: the ASCII patterns match byte-for-byte
# the same set of documents (invalid sequences decode to U+FFFD, which
# the patterns cannot match through), pinned by the both-paths-equal
# pytest and the per-row numpy oracle in bench.assignment_match_rate.
GEO_META_JAVA = (
    r'(?i)<meta\s+name="geo\.position"\s+content="\s*'
    r'(-?\d+(?:\.\d+)?)\s*;\s*(-?\d+(?:\.\d+)?)\s*"'
)
COORD_TEXT_JAVA = r"coordinates:\s*(-?\d+(?:\.\d+)?)\s*,\s*(-?\d+(?:\.\d+)?)"


def _jvm_coords(pages: DataFrame):
    """(lat, lon) columns via JVM regexp_extract — html-meta first,
    text pattern as fallback, NULL when neither matches (the exact
    decision order of hx.extract_coords)."""
    h = F.col("html").cast("string")
    mlat = F.regexp_extract(h, GEO_META_JAVA, 1)
    mlon = F.regexp_extract(h, GEO_META_JAVA, 2)
    tlat = F.regexp_extract(F.col("text"), COORD_TEXT_JAVA, 1)
    tlon = F.regexp_extract(F.col("text"), COORD_TEXT_JAVA, 2)
    lat = F.when(mlat != "", mlat.cast("double")).otherwise(
        F.when(tlat != "", tlat.cast("double"))
    )
    lon = F.when(mlat != "", mlon.cast("double")).otherwise(
        F.when(tlat != "", tlon.cast("double"))
    )
    return lat, lon


def tag_pages(
    pages: DataFrame,
    idx_bc,
    host_hints: pd.DataFrame | None = None,
    boundary: str = "include",
    with_metrics: bool = False,
    jvm_extract: bool = True,
) -> DataFrame:
    """Single-pass geo-tag: extraction + projection + PIP assignment in
    ONE mapInPandas (one JVM↔Python Arrow crossing; only ``url`` and the
    tiny computed columns come back — the html payload never makes a
    round trip). This is the hot path the pages/sec metric measures.

    ``jvm_extract=True`` (default) runs the coordinate regexes JVM-side
    (``_jvm_coords``) so the html payload never crosses Arrow AT ALL —
    the Python pass receives (url, lat, lon[, text]) ≈ tens of bytes per
    page instead of the KB-scale html. On a bandwidth-bound executor the
    Arrow transfer was the plain variant's dominant cost; the legacy
    all-Python path is kept (``jvm_extract=False``) and pinned equal
    row-for-row by pytest.

    ``with_metrics=True`` additionally computes the per-page
    training-data metrics in the same pass (token count + 64-bit SimHash
    dedup fingerprint) — the fused form of the reference's one-loop
    multi-layer fill (``dataset_creation.py:58-75``): at crawl scale you
    never re-read a page payload for a second metric pass (text still
    crosses for the metrics; html still doesn't).
    """
    from .dedup import simhash_counts

    hints = _hint_table(host_hints)

    schema = "url string, poly_id string, x double, y double"
    if with_metrics:
        schema += ", n_tokens int, simhash long"

    if jvm_extract:
        jlat, jlon = _jvm_coords(pages)
        src = pages.select(
            "url",
            jlat.alias("lat"),
            jlon.alias("lon"),
            *(["text"] if with_metrics else []),
        )
    else:
        src = pages.select("url", "html", "text")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = idx_bc.value
        names = np.asarray(idx.poly_ids, dtype=object)
        for b in batches:
            if jvm_extract:
                lat = b["lat"].to_numpy(dtype=np.float64, na_value=np.nan)
                lon = b["lon"].to_numpy(dtype=np.float64, na_value=np.nan)
            else:
                lat, lon = _py_coords(b)
            _fill_from_hints(hints, b["url"], lat, lon)
            x, y = proj.forward(lon, lat)
            out = {
                "url": b["url"],
                "poly_id": _poly_column(idx, names, x, y, boundary, "last"),
                "x": x,
                "y": y,
            }
            if with_metrics:
                sims, out["n_tokens"] = simhash_counts(b["text"].tolist())
                out["simhash"] = sims
            yield pd.DataFrame(out)

    return src.mapInPandas(fn, schema=schema)


def pages_per_region(
    spark: SparkSession,
    pages: DataFrame,
    polygons_df: DataFrame | None = None,
    host_hints: pd.DataFrame | None = None,
    level: int | None = 3,
    res: int = gcells.RES_DEFAULT,
    idx_bc=None,
    with_metrics: bool = False,
) -> DataFrame:
    """The §7.2 flagship query: pages per containing admin region.

    Pass a prebuilt ``idx_bc`` to amortize the polygon index across jobs
    (the production shape: the index is built once per run, not per
    micro-batch)."""
    if idx_bc is None:
        polys = polygons_df
        if level is not None and "levl_code" in polygons_df.columns:
            polys = polygons_df.filter(F.col("levl_code") == level)
        idx_bc = build_polygon_index_bc(spark, polys, res=res)
    tagged = tag_pages(pages, idx_bc, host_hints=host_hints, with_metrics=with_metrics)
    return (
        tagged.groupBy("poly_id")
        .agg(F.count("*").alias("n_pages"))
        .withColumnRenamed("poly_id", "nuts_id")
        .orderBy(F.desc("n_pages"))
    )


def polygon_cover_df(
    polygons_df: DataFrame,
    id_col: str = "nuts_id",
    geom_col: str = "geometry",
    burn_col: str = "burn",
    res: int = gcells.RES_DEFAULT,
) -> DataFrame:
    """Distributed cover-cell table: one row per (cover cell, polygon) —
    the shuffle-join twin of the driver-built PolyIndex, for polygon
    sets too large to broadcast (LAU 1e5+, ~600 MB decoded). Decode +
    validity + cover run inside mapInPandas; the caller supplies an
    explicit ``burn_col`` (int) because a distributed table has no
    input order — last-wins needs it stated, not implied."""
    from ..geo import geom as ggeom, wkb as gwkb

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            cells_out, pids, burns = [], [], []
            for pid, burn, buf in zip(b[id_col], b[burn_col], b[geom_col]):
                parts = gwkb.polygon_parts(gwkb.decode(bytes(buf)))
                if not ggeom.is_valid_polygon(parts):
                    continue
                cov = gcells.cover_polygon(parts, res)
                cells_out.append(cov)
                pids.extend([pid] * len(cov))
                burns.extend([burn] * len(cov))
            cell_arr = (
                np.concatenate(cells_out) if cells_out else np.empty(0, np.int64)
            )
            yield pd.DataFrame(
                {"cell": cell_arr, "poly_id": pids, "burn": burns}
            )

    return polygons_df.select(id_col, burn_col, geom_col).mapInPandas(
        fn, schema="cell long, poly_id string, burn long"
    )


def pip_join_shuffle(
    points: DataFrame,
    polygons_df: DataFrame,
    keep_cols: tuple[str, ...] = ("url",),
    id_col: str = "nuts_id",
    geom_col: str = "geometry",
    burn_col: str = "burn",
    res: int = gcells.RES_DEFAULT,
    boundary: str = "include",
    n_salt: int = 8,
) -> DataFrame:
    """Cell-bucketed SHUFFLE spatial join — the no-broadcast scale path
    the north-star names ("cell-bucketed hash join plus exact
    point-in-polygon refinement") for when the polygon side outgrows
    the broadcast budget (ARCHITECTURE.md §2 fallback).

    Stages (3 wide ops vs the broadcast path's 1 — the documented price
    of dropping the broadcast):
      1. points gain a cell id map-side; cover table from
         :func:`polygon_cover_df`; candidate pairs via a cell-keyed
         join pinned ``shuffle_hash`` (the planner must never try to
         broadcast either corpus-scale side).
      2. exact ray-cast refine via COGROUP on (poly_id, salt):
         geometry ships ONCE per group — never duplicated per candidate
         pair — and the salt splits hot polygons (a capital-city
         polygon at crawl scale) across ``n_salt`` independent tasks.
      3. last-wins burn order (MergeAlg.replace parity with the
         broadcast path): max_by(poly_id, burn) per point, then a left
         join back so unmatched points keep poly_id = NULL.

    ``keep_cols`` must uniquely key a point row (used for the last-wins
    regroup and the NULL-fill join).
    """
    from ..geo import geom as ggeom, wkb as gwkb

    pts = points
    if "cell" not in pts.columns:

        def add_cell(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for b in batches:
                x = b["x"].to_numpy(dtype=np.float64, na_value=np.nan)
                y = b["y"].to_numpy(dtype=np.float64, na_value=np.nan)
                out = b.copy()
                ok = np.isfinite(x) & np.isfinite(y)
                cid = np.full(len(b), -1, dtype=np.int64)
                if ok.any():
                    cid[ok] = gcells.cell_id(x[ok], y[ok], res)
                out["cell"] = cid
                yield out

        in_cols = list(keep_cols) + ["x", "y"]
        schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in pts.select(*in_cols).schema.fields
        ) + ", cell bigint"
        pts = pts.select(*in_cols).mapInPandas(add_cell, schema=schema)

    cover = polygon_cover_df(
        polygons_df, id_col=id_col, geom_col=geom_col, burn_col=burn_col, res=res
    )
    pairs = pts.join(cover.hint("shuffle_hash"), "cell").withColumn(
        "salt", F.pmod(F.xxhash64("x", "y"), F.lit(n_salt))
    )
    salts = pairs.sparkSession.range(n_salt).select(
        F.col("id").alias("salt")
    )
    geoms = (
        polygons_df.select(
            F.col(id_col).alias("poly_id"), F.col(geom_col).alias("geometry")
        )
        .crossJoin(F.broadcast(salts))
    )

    out_cols = list(keep_cols)
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in pairs.select(*out_cols).schema.fields
    ) + ", poly_id string, burn long"

    def refine(key, cand: pd.DataFrame, geo: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {c: pd.Series(dtype=object) for c in out_cols}
            | {"poly_id": pd.Series(dtype=object), "burn": pd.Series(dtype="int64")}
        )
        if len(cand) == 0 or len(geo) == 0:
            return empty
        parts = gwkb.polygon_parts(gwkb.decode(bytes(geo["geometry"].iloc[0])))
        x = cand["x"].to_numpy(dtype=np.float64)
        y = cand["y"].to_numpy(dtype=np.float64)
        hit = ggeom.points_in_polygon(x, y, parts, boundary)
        if not hit.any():
            return empty
        got = cand.loc[hit, out_cols + ["burn"]].copy()
        got["poly_id"] = key[0]
        return got[out_cols + ["poly_id", "burn"]]

    hits = (
        pairs.groupBy("poly_id", "salt")
        .cogroup(geoms.groupBy("poly_id", "salt"))
        .applyInPandas(refine, schema=out_schema)
    )
    best = hits.groupBy(*keep_cols).agg(
        F.max_by("poly_id", "burn").alias("poly_id")
    )
    return points.select(*keep_cols, "x", "y").join(
        best, list(keep_cols), "left"
    )
