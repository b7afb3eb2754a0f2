"""Broadcast polygon index: cell cover + exact-refine lookup.

Spark-side shape of the reference's rasterize/overlay joins (SURVEY.md
§2.3 J3/J6): the polygon set is small (NUTS ≈ 1 500, LAU ≈ 1e5 —
``/root/reference/src/data_engineering/raster_processor.py:43-57``), so it
is indexed once on the driver and broadcast; the trillion-row point side
then (a) buckets by cell id with a plain column expression, (b) equi-joins
or probes the cover, (c) refines with vectorized point-in-polygon
inside one Arrow-batched pandas UDF. No per-row Python anywhere.

The cover is CSR: sorted unique ``cell_keys`` (int64), ``cell_offs``
(int32, one longer) and flat ``cell_polys`` (int32 ordinals, ascending
within a cell); cell k's candidates are
``cell_polys[cell_offs[k]:cell_offs[k + 1]]``, and a batch probes it
with one ``searchsorted``. The index is a plain picklable object (these
arrays + ring arrays) — cheap to broadcast, unpickled once per executor
worker process by Spark's broadcast machinery (SURVEY.md §7.4 risk 6).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from . import cells, geom, wkb


@dataclass
class PolyIndex:
    """cell id → candidate polygon ordinals (CSR), plus decoded geometries."""

    poly_ids: list  # external ids (e.g. nuts_id strings), ordinal order
    parts: list  # decoded ring-lists per polygon, ordinal order
    res: int
    cell_keys: np.ndarray
    cell_offs: np.ndarray
    cell_polys: np.ndarray
    bboxes: np.ndarray  # (n,4) xmin,ymin,xmax,ymax


def build_index(
    polygons: list[tuple[str, bytes]],
    res: int = cells.RES_DEFAULT,
    validate: bool = True,
) -> PolyIndex:
    """Build the broadcastable index from (id, wkb) pairs.

    Invalid geometries are dropped, mirroring the reference's
    ``is_valid_geom`` guard before every burn
    (``raster_processor.py:165,177,201,213,279,303``).
    """
    poly_ids: list[str] = []
    parts_list: list = []
    bboxes = []
    covers: list[np.ndarray] = []
    for pid, buf in polygons:
        parts = wkb.polygon_parts(wkb.decode(buf))
        if validate and not geom.is_valid_polygon(parts):
            continue
        poly_ids.append(pid)
        parts_list.append(parts)
        bboxes.append(geom.geom_bbox(wkb.Geom(wkb.WKB_MULTIPOLYGON, parts)))
        covers.append(cells.cover_polygon(parts, res))
    flat = np.concatenate(covers) if covers else np.empty(0, dtype=np.int64)
    ords = np.repeat(
        np.arange(len(covers), dtype=np.int32), [len(c) for c in covers]
    )
    keys, counts = np.unique(flat, return_counts=True)
    offs = np.zeros(len(keys) + 1, dtype=np.int32)
    np.cumsum(counts, out=offs[1:])
    return PolyIndex(
        poly_ids=poly_ids,
        parts=parts_list,
        res=res,
        cell_keys=keys,
        cell_offs=offs,
        cell_polys=ords[np.argsort(flat, kind="stable")],  # ascending per cell
        bboxes=np.array(bboxes) if bboxes else np.empty((0, 4)),
    )


def assign_points(
    idx: PolyIndex,
    px: np.ndarray,
    py: np.ndarray,
    boundary: str = "include",
    match: str = "last",
):
    """Assign each point to covering polygon id(s).

    Returns (row_idx, poly_ordinal) int arrays. ``match`` selects the
    overlap rule:

      * ``'last'`` (default) — highest ordinal wins per point. This is
        rasterio ``MergeAlg.replace`` semantics: each burn OVERWRITES
        earlier burns, so the last polygon in input order wins (G4,
        ``raster_processor.py:167-175``; value burns at ``:279-291``).
      * ``'first'`` — lowest ordinal wins (kept for pipelines that
        pre-sort polygons by priority descending).
      * ``'all'`` — every covering polygon, one pair per hit
        (MergeAlg.add overlap counting, G3, ``:176-188``).

    One CSR probe finds every (point, candidate) pair, the pairs are
    grouped by polygon with one stable sort, and each touched polygon
    gets one ``points_in_polygon`` call over all its candidate points.
    Pairs come back ordered by (row, ordinal).
    """
    if match not in ("last", "first", "all"):
        raise ValueError(f"match must be 'last'|'first'|'all', got {match!r}")
    keys = idx.cell_keys
    if len(px) == 0 or len(keys) == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int32)
    cid = cells.cell_id(px, py, idx.res)
    k = np.minimum(np.searchsorted(keys, cid), len(keys) - 1)
    lo = idx.cell_offs[k]
    cnt = np.where(keys[k] == cid, idx.cell_offs[k + 1] - lo, 0)
    # (row, ordinal) pairs in row-major order: row i contributes its
    # cell's slice cell_polys[lo_i : lo_i + cnt_i]
    rows = np.repeat(np.arange(len(px), dtype=np.int64), cnt)
    first = np.cumsum(cnt) - cnt
    polys = idx.cell_polys[np.arange(len(rows)) + np.repeat(lo - first, cnt)]
    by_poly = np.argsort(polys, kind="stable")
    sp, sr = polys[by_poly], rows[by_poly]
    starts = np.flatnonzero(np.diff(sp, prepend=-1))
    hit_sorted = np.empty(len(sp), dtype=bool)
    for s, e in zip(starts, np.r_[starts[1:], len(sp)]):
        r = sr[s:e]
        hit_sorted[s:e] = geom.points_in_polygon(
            px[r], py[r], idx.parts[sp[s]], boundary
        )
    hit = np.empty(len(sp), dtype=bool)
    hit[by_poly] = hit_sorted
    rows, polys = rows[hit], polys[hit]
    if match != "all":
        keep = np.ones(len(rows), dtype=bool)
        if match == "first":
            keep[1:] = rows[1:] != rows[:-1]
        else:  # 'last': keep the final (highest-ordinal) entry per row
            keep[:-1] = rows[:-1] != rows[1:]
        rows, polys = rows[keep], polys[keep]
    return rows, polys
