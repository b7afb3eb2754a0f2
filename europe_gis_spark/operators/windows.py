"""2-D sliding-window patch extraction + batched inference hooks
(W1–W5, O1–O5) — tile-grouped ``applyInPandas`` with halo exchange.

The reference extracts all w×w patches of whole-in-memory rasters with
Python loops (``/root/reference/scripts/jobs/dataset_creation.py:20-80``)
and batches 100 windows per ``model.predict``
(``scripts/jobs/model_prediction.py:33-63``). The engine re-expresses
both over the tiled raster table:

  * halo exchange: each tile needs a (w−1)-pixel apron from its E/S/SE
    neighbors; rather than shuffling whole neighbor tiles, each tile
    pre-emits its apron strips keyed by the receiving tile — one narrow
    shuffle, then one ``applyInPandas`` per assembled tile does all the
    numpy stride-tricks work (zero per-row Python).
  * window validity (W2) = 2-D min filter > bad_value inside the UDF —
    same rule as ``np.amin(win) > threshold``
    (``dataset_creation.py:26,64,131``).
  * labeling (W3) = center pixel of the label layer.
  * batched inference (W4) = ``mapInPandas`` over the patch table with a
    broadcast model callable (Arrow batch ≈ the reference's 100-window
    stack).
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

BAD_VALUE = -1000.0


def tile_with_halo(tiles: DataFrame, tile_w: int, win: int) -> DataFrame:
    """Attach E/S/SE halo strips to every tile.

    Emits each tile under its own key plus apron contributions to its
    W/N/NW neighbors (the tiles whose windows overhang into it), then
    groups — the classic stencil halo exchange as one groupBy shuffle of
    narrow strips.
    Output: (layer, tile_row, tile_col, part, dr, dc, block) rows ready
    for assemble inside extract_patches.
    """
    h = win - 1
    strips = []
    base = tiles.select(
        "layer",
        "tile_row",
        "tile_col",
        F.lit(0).alias("dr"),
        F.lit(0).alias("dc"),
        F.col("tile").alias("block"),
    )
    strips.append(base)
    if h > 0:
        # this tile is the EAST halo of (tile_col-1): receiver gets dr=0, dc=1
        strips.append(
            tiles.select(
                "layer",
                "tile_row",
                (F.col("tile_col") - 1).alias("tile_col"),
                F.lit(0).alias("dr"),
                F.lit(1).alias("dc"),
                F.col("tile").alias("block"),
            ).filter(F.col("tile_col") >= 0)
        )
        strips.append(
            tiles.select(
                "layer",
                (F.col("tile_row") - 1).alias("tile_row"),
                "tile_col",
                F.lit(1).alias("dr"),
                F.lit(0).alias("dc"),
                F.col("tile").alias("block"),
            ).filter(F.col("tile_row") >= 0)
        )
        strips.append(
            tiles.select(
                "layer",
                (F.col("tile_row") - 1).alias("tile_row"),
                (F.col("tile_col") - 1).alias("tile_col"),
                F.lit(1).alias("dr"),
                F.lit(1).alias("dc"),
                F.col("tile").alias("block"),
            ).filter((F.col("tile_row") >= 0) & (F.col("tile_col") >= 0))
        )
    out = strips[0]
    for s in strips[1:]:
        out = out.unionByName(s)
    return out


PATCH_SCHEMA = (
    "layer string, i int, j int, label float, patch array<float>, valid boolean"
)


def extract_patches(
    tiles: DataFrame,
    tile_w: int = 16,
    win: int = 5,
    label_layer: str | None = None,
    min_valid: float = BAD_VALUE,
) -> DataFrame:
    """All w×w patches per layer (stride 1) with validity + center label.

    groupBy (layer, tile_row, tile_col) over halo-augmented strips, then
    numpy ``sliding_window_view`` inside one applyInPandas — the
    distributed form of dataset_creation.py:20-36.

    ``label_layer`` implements W3 cross-layer labeling: the label is the
    patch-center pixel of THAT layer (the reference's output raster,
    dataset_creation.py:30,66), joined into each feature layer's group
    as halo-augmented label strips. Layers equal to ``label_layer`` are
    labels only, never features. Without it, the label falls back to the
    center pixel of the patch's own layer.

    Tiles absent from the input emit NOTHING even when a neighbor sent
    them an apron strip (a halo-only group is not a tile).
    """
    h = win - 1
    if label_layer is None:
        halo = tile_with_halo(tiles, tile_w, win).withColumn(
            "is_label", F.lit(False)
        )
    else:
        feats = tiles.filter(F.col("layer") != label_layer)
        halo = tile_with_halo(feats, tile_w, win).withColumn(
            "is_label", F.lit(False)
        )
        # replicate the label layer's tiles under EVERY feature layer's
        # key (feature layer set is tiny — broadcast cross join), then
        # halo them the same way so edge-tile centers resolve too
        feat_layers = feats.select("layer").distinct()
        lab = (
            tiles.filter(F.col("layer") == label_layer)
            .drop("layer")
            .crossJoin(F.broadcast(feat_layers))
        )
        halo = halo.unionByName(
            tile_with_halo(lab, tile_w, win).withColumn("is_label", F.lit(True))
        )

    def fn(key, pdf):
        layer, trow, tcol = key
        empty = pd.DataFrame(
            {
                "layer": pd.Series(dtype=object),
                "i": pd.Series(dtype=np.int32),
                "j": pd.Series(dtype=np.int32),
                "label": pd.Series(dtype=np.float32),
                "patch": pd.Series(dtype=object),
                "valid": pd.Series(dtype=bool),
            }
        )
        big = np.full((tile_w + h, tile_w + h), BAD_VALUE, dtype=np.float32)
        lab_big = None
        base_present = False
        for r in pdf.itertuples():
            block = np.asarray(r.block, dtype=np.float32).reshape(tile_w, tile_w)
            r0, c0 = r.dr * tile_w, r.dc * tile_w
            if r.is_label:
                if lab_big is None:
                    lab_big = np.full(
                        (tile_w + h, tile_w + h), BAD_VALUE, dtype=np.float32
                    )
                seg = lab_big[r0 : r0 + tile_w, c0 : c0 + tile_w]
                lab_big[r0 : r0 + tile_w, c0 : c0 + tile_w] = block[
                    : seg.shape[0], : seg.shape[1]
                ]
                continue
            if r.dr == 0 and r.dc == 0:
                base_present = True
            seg = big[r0 : r0 + tile_w, c0 : c0 + tile_w]
            big[r0 : r0 + tile_w, c0 : c0 + tile_w] = block[: seg.shape[0], : seg.shape[1]]
        if not base_present:
            # halo-only group: a neighbor emitted an apron strip keyed to
            # a tile that does not exist — no phantom patches
            return empty
        sw = np.lib.stride_tricks.sliding_window_view(big, (win, win))
        sw = sw[:tile_w, :tile_w]  # origins inside this tile
        n = tile_w * tile_w
        patches = sw.reshape(n, win * win)
        valid = patches.min(axis=1) > min_valid
        ii, jj = np.meshgrid(np.arange(tile_w), np.arange(tile_w), indexing="ij")
        if label_layer is not None and lab_big is None:
            # a label layer was requested but this tile has no label
            # raster: labels must be BAD (→ filtered), never silently
            # fall back to the FEATURE layer's own pixels
            center = np.full(n, BAD_VALUE, dtype=np.float32)
        else:
            src = big if lab_big is None else lab_big
            center = src[(ii + win // 2).ravel(), (jj + win // 2).ravel()]
        return pd.DataFrame(
            {
                "layer": layer,
                "i": (trow * tile_w + ii.ravel()).astype(np.int32),
                "j": (tcol * tile_w + jj.ravel()).astype(np.int32),
                "label": center.astype(np.float32),
                "patch": list(patches),
                "valid": valid,
            }
        )

    return halo.groupBy("layer", "tile_row", "tile_col").applyInPandas(
        fn, schema=PATCH_SCHEMA
    )


def stratified_sample(
    patches: DataFrame, fractions: dict, label_col: str = "label_bucket", seed: int = 42
) -> DataFrame:
    """O5: per-class sampling (sampleBy — seeded, reproducible)."""
    return patches.sampleBy(label_col, fractions, seed)


def stratified_hash_sample(
    df: DataFrame,
    rates: dict,
    strata_col: str,
    key_col: str = "doc_id",
    salt: str = "strat:v1",
) -> DataFrame:
    """O5, the ENGINE-PORTABLE form: per-stratum deterministic sampling
    by salted md5-prefix threshold (same cutoff trick as
    ``textops.hash_split``) — keep a row iff its digest prefix sorts
    below the stratum's 8-hex-char cutoff. Unlike ``sampleBy`` (seeded
    engine-specific RNG) the kept SET is reproducible across engines,
    versions and partitionings, so downstream runs are replayable and
    the DuckDB oracle is exact. Strata missing from ``rates`` are
    dropped (rate 0). Pure map-side column expressions — no shuffle."""
    digest = F.md5(
        F.concat(F.lit(salt + "|"), F.col(key_col).cast("string"))
    )
    prefix = F.substring(digest, 1, 8)
    cond = F.lit(False)
    for stratum, rate in sorted(rates.items()):
        cut_i = int(rate * 16**8)
        keep = (
            F.lit(True)
            if cut_i >= 16**8
            else prefix < F.lit(format(cut_i, "08x"))
        )
        cond = cond | ((F.col(strata_col) == F.lit(stratum)) & keep)
    return df.filter(cond)


def weighted_sample_topk(
    df: DataFrame,
    k: int,
    weight_col: str,
    key_col: str = "doc_id",
    salt: str = "wsample:v1",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES):
    each row gets key u^(1/w) for a deterministic uniform u ∈ (0,1]
    derived from a salted md5 of the row key; the k largest keys are
    exactly a weight-proportional without-replacement sample. The
    hash-derived u makes the drawn SET engine-portable and replayable
    (same property as ``stratified_hash_sample``) — reruns, retries and
    repartitions cannot change the sample, unlike seeded per-partition
    RNG. Rows with weight ≤ 0 or NULL are excluded (A-ES precondition).

    Plan: score is pure map-side column math (52-bit digest prefix →
    uniform → pow); the global top-k is TakeOrderedAndProject — no full
    sort, no Window, O(k) driver memory at any corpus size.

    Output: input columns + ``es_key`` (the selection key, for margin
    audits)."""
    digest = F.md5(F.concat(F.lit(salt + "|"), F.col(key_col).cast("string")))
    v = F.conv(F.substring(digest, 1, 13), 16, 10).cast("long")
    u = (v + F.lit(1)).cast("double") / F.lit(float(16**13))
    w = F.col(weight_col).cast("double")
    scored = df.filter(w.isNotNull() & (w > 0)).withColumn(
        "es_key", F.pow(u, F.lit(1.0) / w)
    )
    return scored.orderBy(F.col("es_key").desc(), F.col(key_col)).limit(k)


def train_test_split(df: DataFrame, test_frac: float = 0.2, seed: int = 42):
    """O4: 80/20 split (dataset_creation.py:32-35)."""
    train, test = df.randomSplit([1.0 - test_frac, test_frac], seed)
    return train, test


def weighted_interleave(
    dfs: list[DataFrame], weights: list[float], seed: int = 42,
    sizes: list[int] | None = None,
) -> DataFrame:
    """O6: weighted dataset interleave — the Spark form of
    ``tf.data.sample_from_datasets`` with size-proportional weights
    (ref ``scripts/jobs/dataset_creation.py:365-373``).

    Each source is down-sampled with a seeded Bernoulli fraction so the
    expected output composition matches ``weights`` (normalized), using
    as much data as the scarcest source allows (c_i = w_i · s with
    s = min n_i/w_i), then union + seeded permutation so downstream
    batches mix sources — the interleave property. Deterministic under
    a fixed seed.

    Sizing fires ONE Spark action for all sources (a tagged union +
    per-tag count), not one count() job per source; pass ``sizes`` to
    skip the sizing pass entirely when counts are already known.
    """
    if len(dfs) != len(weights) or not dfs:
        raise ValueError("need one weight per DataFrame")
    if any(w < 0 for w in weights):
        raise ValueError(f"weights must be non-negative, got {weights}")
    total_w = float(sum(weights))
    if total_w <= 0:
        raise ValueError("at least one weight must be positive")
    ws = [w / total_w for w in weights]
    if sizes is not None:
        if len(sizes) != len(dfs):
            raise ValueError("need one size per DataFrame")
        ns = [int(n) for n in sizes]
    else:
        tagged = None
        for i, df in enumerate(dfs):
            t = df.select(F.lit(i).alias("_src"))
            tagged = t if tagged is None else tagged.unionAll(t)
        counts = {
            r._src: r.n
            for r in tagged.groupBy("_src").agg(F.count("*").alias("n")).collect()
        }
        ns = [int(counts.get(i, 0)) for i in range(len(dfs))]
    s = min(n / w for n, w in zip(ns, ws) if w > 0)
    out = None
    for df, w, n in zip(dfs, ws, ns):
        if w == 0 or n == 0:
            continue
        frac = min(w * s / n, 1.0)
        part = df if frac >= 1.0 else df.sample(fraction=frac, seed=seed)
        out = part if out is None else out.unionByName(part)
    if out is None:  # every positively-weighted source was empty
        return dfs[0].limit(0)
    return out.orderBy(F.rand(seed))


def batched_inference(
    patches: DataFrame,
    predict_fn: Callable[[np.ndarray], np.ndarray],
    feature_col: str = "patch",
    out_col: str = "pred",
) -> DataFrame:
    """W4: Arrow-batched inference over the patch table (mapInPandas);
    ``predict_fn`` is a broadcastable callable (model.predict analogue,
    model_prediction.py:33-63)."""
    in_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in patches.schema.fields
    )
    schema = in_fields + f", {out_col} double"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            mat = np.array(b[feature_col].tolist(), dtype=np.float32)
            out = b.copy()
            out[out_col] = np.asarray(predict_fn(mat), dtype=np.float64)
            yield out

    return patches.mapInPandas(fn, schema=schema)
