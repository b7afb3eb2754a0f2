"""Deduplication operators for web-text corpora (training-data layer).

Four strategies, scale-ranked:
  * exact        — md5 groupBy (one shuffle on the hash key)
  * minhash-LSH  — word-shingle → md5 minhash signature → banded buckets
                   → candidate pairs (the 100 TB path: pair generation is
                   bucket-local, never all-pairs)
  * ngram-jaccard — exact verification of candidate pairs (or, at test
                   scale, of all shingle-sharing pairs)
  * simhash      — 64-bit bitwise fingerprint, hamming-close pairs via
                   4x16-bit band buckets with within-band hamming-1
                   multi-probe (guaranteed recall for hamming <= 7 by
                   pigeonhole; 65536 buckets/band keeps candidate
                   generation sub-quadratic at corpus scale)

MinHash uses lexicographic min over md5 hex digests (a hash-min is a
hash-min; strings avoid engine-specific int hashing) so the DuckDB
oracle reproduces signatures exactly.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

SHINGLE_WORDS = 5
N_HASHES = 12
BAND_SIZE = 3  # 4 bands of 3 hashes


def exact_dup_groups(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups by content hash (normalized text)."""
    norm = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    return (
        docs.select("doc_id", F.md5(norm).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def shingles_df(docs: DataFrame, k: int = SHINGLE_WORDS, distinct: bool = True) -> DataFrame:
    """Word k-gram shingles per doc: (doc_id, shingle) rows.

    ``distinct=False`` skips the per-array dedup — correct for min-hash
    aggregation (duplicates can't change a min) and measurably cheaper;
    Jaccard set arithmetic needs ``distinct=True``."""
    return docs.select(
        "doc_id", F.explode(shingle_array(k, distinct)).alias("shingle")
    )


def minhash_expr(j: int, col: str = "shingle") -> str:
    """SQL text of minhash j — shared verbatim with the DuckDB oracle.

    Hash family: 4 independent 8-hex-char slices per md5 digest, over
    salted digests md5('<s>:' || shingle) — 12 hashes cost 3 md5 calls
    instead of 12 (the md5 evaluation dominated the LSH job's runtime).
    Lexicographic min over fixed-width hex == hash-min.
    """
    salt, slice_i = divmod(j, 4)
    return f"substring(md5('{salt}:' || {col}), {1 + 8 * slice_i}, 8)"


def shingle_array(k: int = SHINGLE_WORDS, distinct: bool = False):
    """Word k-gram shingles as an ARRAY column expression (no explode) —
    the map-side building block for signature computation."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    # guard: Spark sequence(1, n) with n < 1 runs DESCENDING — emit an
    # empty shingle set for too-short docs instead
    arr = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (k - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
    )
    if distinct:
        arr = F.array_distinct(arr)
    return F.when(F.size(toks) >= k, arr).otherwise(
        F.array().cast("array<string>")
    )


#: Java-regex `\s` is the ASCII class [ \t\n\x0B\f\r] (no unicode
#: spaces without UNICODE_CHARACTER_CLASS) — the Python twin must spell
#: it out because Python's `\s` IS unicode-aware on str
_JAVA_WS = __import__("re").compile("[ \t\n\x0B\f\r]+")


def java_ws_tokens(text: str | None) -> list[str]:
    """Exact Python twin of ``split(trim(text), '\\s+')`` in Spark SQL:
    trim removes ASCII spaces ONLY (UTF8String.trim), the split keeps
    leading/trailing empty fields (StringSplit limit=-1), and the class
    is Java's ASCII `\\s`. Pinned by test_minhash_arrow_twin against
    the JVM expression on adversarial whitespace."""
    return _JAVA_WS.split((text or "").strip(" "))


def minhash_signatures(docs: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """Per-doc minhash signature columns mh0..mh{n-1}, computed entirely
    MAP-SIDE (no explode, no shuffle): one Arrow pass, hashlib's C md5
    per salted shingle. At corpus scale the old explode+groupBy form
    shuffled every shingle row (~200× the doc count); this form
    shuffles nothing before LSH banding.

    r6: the previous form kept the same plan shape but evaluated
    ``transform``/``array_min`` higher-order functions, which are
    CodegenFallback — every element interpreted with per-call
    allocation; the signature stage measured ~120 core-s for 57 k docs
    at sf1.0 (~2.4 ms/doc). This pass does the identical hashing
    (md5('<salt>:' || shingle) hex, four 8-char slices per digest,
    lexicographic min) in C-speed hashlib at ~0.2 ms/doc. Tokenization
    is the exact JVM twin (``java_ws_tokens``), pinned by a dedicated
    adversarial-whitespace test; signatures are value-identical, so
    band keys, candidate pairs and every oracle stay unchanged.

    Docs with fewer than ``SHINGLE_WORDS`` tokens get NULL signatures —
    band keys built with null-propagating concat make them unjoinable,
    matching the oracle where such docs simply have no shingle rows.
    """
    import hashlib

    n_salts = (n_hashes + 3) // 4
    k = SHINGLE_WORDS
    names = [f"mh{j}" for j in range(n_hashes)]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        md5 = hashlib.md5
        for b in batches:
            cols: list[list] = [[] for _ in range(n_hashes)]
            for t in b["text"].tolist():
                toks = java_ws_tokens(t)
                if len(toks) < k:
                    for c in cols:
                        c.append(None)
                    continue
                shingles = [
                    " ".join(toks[i : i + k])
                    for i in range(len(toks) - k + 1)
                ]
                for salt in range(n_salts):
                    pre = f"{salt}:"
                    digs = [
                        md5((pre + s).encode("utf-8")).hexdigest()
                        for s in shingles
                    ]
                    for sl in range(4):
                        j = salt * 4 + sl
                        if j >= n_hashes:
                            break
                        off = 8 * sl
                        cols[j].append(
                            min(d[off : off + 8] for d in digs)
                        )
            yield pd.DataFrame(
                {"doc_id": b["doc_id"], **dict(zip(names, cols))}
            )

    schema = "doc_id long, " + ", ".join(f"{n} string" for n in names)
    return docs.select("doc_id", "text").mapInPandas(fn, schema)


def shingle_sets_arrow(docs: DataFrame, k: int = SHINGLE_WORDS) -> DataFrame:
    """(doc_id, sh_set) distinct word-k-gram sets per doc — the Arrow
    twin of ``shingle_array(k, distinct=True)`` (same ``java_ws_tokens``
    tokenization, dict.fromkeys ≡ array_distinct first-occurrence
    order). The JVM HOF form interpreted every element (~45 core-s per
    evaluation at sf1.0 for 51 k docs); this is one C-speed pass."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            sets = []
            for t in b["text"].tolist():
                toks = java_ws_tokens(t)
                if len(toks) < k:
                    sets.append([])
                    continue
                sets.append(
                    list(
                        dict.fromkeys(
                            " ".join(toks[i : i + k])
                            for i in range(len(toks) - k + 1)
                        )
                    )
                )
            yield pd.DataFrame({"doc_id": b["doc_id"], "sh_set": sets})

    return docs.select("doc_id", "text").mapInPandas(
        fn, schema="doc_id long, sh_set array<string>"
    )


MAX_BUCKET = 200  # shared with the DuckDB oracle (queries._sql_minhash)


def band_keys(
    sig: DataFrame, n_hashes: int = N_HASHES, band_size: int = BAND_SIZE
) -> DataFrame:
    """Signature columns → (doc_id, band, key) rows. Keys are built with
    null-PROPAGATING concat: a doc with NULL signature (no shingles) gets
    NULL keys, which can never equi-join — no filter step needed."""
    n_bands = n_hashes // band_size
    def key(b):
        parts: list = []
        for j in range(band_size):
            if j:
                parts.append(F.lit("|"))
            parts.append(F.col(f"mh{b * band_size + j}"))
        return F.concat(*parts)

    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), key(b).alias("key"))
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")


def cap_hot_buckets(
    df: DataFrame, keys: tuple[str, ...], cap: int
) -> DataFrame:
    """Drop every row of an over-full bucket: windowed count over
    ``keys`` (reuses the bucket exchange — no second aggregation
    pipeline), keep rows whose bucket holds ≤ ``cap``. Shared by every
    candidate-pair generator (MinHash bands, SimHash bands, LSH/cosine
    buckets, winnowing postings): a pathological bucket — boilerplate
    shingle, zero vector, all-same fingerprint — would otherwise emit
    O(bucket²) pairs and carries no dedup signal anyway."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*keys)
    return (
        df.withColumn("_n_in_bucket", F.count("*").over(w))
        .filter(F.col("_n_in_bucket") <= cap)
        .drop("_n_in_bucket")
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    n_hashes: int = N_HASHES,
    band_size: int = BAND_SIZE,
    max_bucket: int | None = MAX_BUCKET,
) -> DataFrame:
    """Banded LSH: equal band-signature ⇒ candidate pair. Pair
    generation is a self-equi-join per band key — bucket-local, the
    trick that avoids O(n²) at corpus scale.

    ``max_bucket`` caps band-bucket size: a band key shared by more
    than ``max_bucket`` docs (boilerplate — empty pages, legal
    disclaimers) would make a quadratic bucket (1e6-doc bucket = 1e12
    pairs); such keys carry no dedup signal and are dropped wholesale
    before the self-join. The DuckDB oracle encodes the identical cap.

    Plan shape (the 100 TB story): the text-hashing pipeline runs
    exactly once — the ONLY shuffle of full-width rows is the window's
    exchange on (band, key), carrying just (doc_id, band, key) ≈ tens
    of bytes per doc (vs ~200 shingle rows/doc for an explode+groupBy
    signature). The bucket-size cap is a windowed count over that same
    exchange (no second aggregation pipeline), and both sides of the
    self-join read the SAME exchange via ReusedExchange. A shuffle-hash
    hint keeps the planner from 'helpfully' broadcasting one side,
    which would re-evaluate the whole hashing pipeline for it.
    """
    sig = minhash_signatures(docs, n_hashes)
    bands = band_keys(sig, n_hashes, band_size)
    if max_bucket is not None:
        bands = cap_hot_buckets(bands, ("band", "key"), max_bucket)
    else:
        bands = bands.repartition("band", "key")
    left = bands.alias("l").hint("shuffle_hash")
    right = bands.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame, threshold: float = 0.5, k: int = SHINGLE_WORDS
) -> DataFrame:
    """Exact word-k-gram Jaccard over shingle-sharing pairs.

    At 100 TB this runs ONLY on LSH candidates; at test scale the
    shingle self-join is the exact oracle-checkable form."""
    sh = shingles_df(docs, k)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    pair_common = (
        sh.alias("a")
        .join(sh.alias("b"), (F.col("a.shingle") == F.col("b.shingle"))
              & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    return (
        pair_common.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "sh_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "sh_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("sh_a") + F.col("sh_b") - F.col("n_common")),
                9,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


def verify_pairs(
    candidates: DataFrame,
    docs: DataFrame,
    threshold: float = 0.5,
    k: int = SHINGLE_WORDS,
) -> DataFrame:
    """Exact Jaccard verification of candidate pairs — the corpus-scale
    composition: LSH candidates (doc_a, doc_b) are joined back to the
    per-doc DISTINCT shingle sets (map-side array column, no explode)
    and scored with ``array_intersect`` per pair. Work is O(|candidates|
    × shingles/doc), never the all-shingle-pairs self-join of
    :func:`ngram_jaccard_pairs` (which remains the test-scale oracle
    form). Mirrors the reference's coarse-candidates-then-exact-refine
    pattern (``scripts/jobs/process_raster_layer.py:398-403``).
    """
    # Plan shape notes (both alternatives measured SLOWER at any scale
    # that matters): (a) semi-filtering docs to candidate ids before
    # tokenizing re-runs the LSH pipeline once per `candidates`
    # reference (column pruning specializes each, defeating exchange
    # reuse) — 2.5x slower lazily; do it only after MATERIALIZING
    # candidates. (b) melting pairs to join the docs table once shuffles
    # shingle ARRAYS through a groupBy — heavier than tokenizing twice
    # map-side while the broadcast candidate side keeps both joins
    # shuffle-free on the big side.
    sets = shingle_sets_arrow(docs, k)
    j = (
        candidates.join(
            sets.select(
                F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("set_a")
            ),
            "doc_a",
        ).join(
            sets.select(
                F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("set_b")
            ),
            "doc_b",
        )
    )
    n_common = F.size(F.array_intersect("set_a", "set_b"))
    denom = F.size("set_a") + F.size("set_b") - n_common
    return (
        j.select(
            "doc_a",
            "doc_b",
            n_common.cast("long").alias("n_common"),
            F.round(n_common / denom, 9).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """Duplicate CLUSTERS from near-dup pairs: distributed connected
    components by iterative min-label propagation (the standard
    large-graph CC — each round every node takes the min label among
    itself and its neighbors; converges in O(component diameter)
    rounds, checked by a driver-side changed-count). This is what a
    real dedup pipeline keeps: one representative per cluster.

    Output: (doc_id, component) where component = min doc_id reachable.
    Each round is one shuffle of the shared graph round driver
    (:func:`.graph._round`): every node pushes its label to its
    neighbor array, the node-keyed aggregate takes the min with its own
    label (carried on the keep row as ``old``), and the changed count
    is observed on the round's ``localCheckpoint`` — no separate join
    or count job.
    """
    from .graph import _adjacency, _carry, _local, _push, _round

    a, b = F.col(a_col), F.col(b_col)
    labels, _ = _adjacency(
        pairs.select(a.alias("node"), b.alias("nbrs")).union(
            pairs.select(b.alias("node"), a.alias("nbrs"))
        ),
        ("nbrs",),
    )
    labels = labels.select("node", "nbrs", F.col("node").alias("label"))
    push = _push("nbrs", F.col("label"))
    aggs = [
        *_carry("nbrs"),
        F.least(F.min("label"), F.min("_m")).alias("label"),
        F.min("label").alias("old"),
    ]
    changed = [F.count_if(F.col("label") < F.col("old")).alias("changed")]
    for _ in range(max_iter):
        labels, m = _round(labels, push, aggs, changed, _local)
        if m["changed"] == 0:
            return labels.select(
                F.col("node").alias("doc_id"), F.col("label").alias("component")
            )
    # silent partial propagation would split duplicate clusters
    # undetected — fail loudly instead
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds "
        f"({m['changed']} labels still changing); a component's diameter "
        "exceeds max_iter — raise max_iter"
    )


def keep_flags(docs: DataFrame, components: DataFrame) -> DataFrame:
    """The operational end of the dedup pipeline: per-doc KEEP decision.
    A doc is kept iff it belongs to no near-dup cluster or is its
    cluster's canonical representative (= the component id, the minimum
    doc_id — deterministic). Input ``components`` is
    :func:`connected_components` output — one row per CLUSTERED doc, so
    on a crawl where 30–50 % of docs are near-dups it is corpus-scale:
    the join must shuffle, not broadcast (AQE still picks broadcast on
    its own when the table measures small)."""
    return (
        docs.select("doc_id")
        .join(components, "doc_id", "left")
        .select(
            "doc_id",
            "component",
            (
                F.col("component").isNull()
                | (F.col("component") == F.col("doc_id"))
            ).alias("keep"),
        )
    )


SIMHASH_SCHEMA = "doc_id long, simhash long"

_SHIFTS = np.arange(64, dtype=np.uint64)
_POWERS = (np.uint64(1) << _SHIFTS).astype(np.uint64)


def simhash_batch(texts: list) -> np.ndarray:
    """64-bit SimHash per document, vectorized over the whole batch.

    Token hash = pandas' vectorized SipHash (``pd.util.hash_array``,
    Cython over the whole token array — no per-token Python calls; the
    previous per-token ``hashlib.blake2b`` loop dominated the fused
    geo-tag + metrics pass). Bit j of a doc's hash is set iff the +1/−1
    vote over its tokens is positive (⇔ set-bit count > n_tokens/2).
    One bit-matrix + one ``np.add.reduceat`` serves every document in
    the Arrow batch — no per-document numpy allocations. NB: assembly
    stays in uint64 throughout; a naive ``sum(1 << j …)`` promotes numpy
    uint64 through float64 and silently corrupts the low bits.
    """
    toks_per = [(t or "").split() for t in texts]
    counts = np.array([len(t) for t in toks_per], dtype=np.int64)
    out = np.zeros(len(texts), dtype=np.int64)
    nz = np.nonzero(counts)[0]
    if len(nz) == 0:
        return out
    all_toks = [x for t in toks_per for x in t]
    hs = pd.util.hash_array(np.asarray(all_toks, dtype=object)).astype(np.uint64)
    # bit matrix via unpackbits on the raw bytes (uint8, C-speed) — the
    # shift-based int32 expansion was 12x slower and 4x the memory; the
    # bit→column mapping differs from plain shifts but simhash only
    # needs a FIXED bijection, not a particular one
    bits = np.unpackbits(hs.view(np.uint8).reshape(-1, 8), axis=1)
    ends = np.cumsum(counts)
    starts = ends - counts
    seg = np.add.reduceat(bits, starts[nz], axis=0, dtype=np.int32)
    set_bit = (2 * seg) > counts[nz][:, None]  # vote > 0
    vals = (set_bit.astype(np.uint64) * _POWERS[None, :]).sum(
        axis=1, dtype=np.uint64
    )
    out[nz] = vals.astype(np.int64)
    return out


def simhash_one(text: str) -> np.int64:
    return np.int64(simhash_batch([text])[0])


def simhash(docs: DataFrame) -> DataFrame:
    """64-bit SimHash over whitespace tokens, one Arrow batch pass."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            sims = simhash_batch(b["text"].tolist())
            yield pd.DataFrame({"doc_id": b["doc_id"].to_numpy(), "simhash": sims})

    return docs.select("doc_id", "text").mapInPandas(fn, schema=SIMHASH_SCHEMA)


SIMHASH_BANDS = 4  # 4 bands × 16 bits, multi-probed at hamming ≤ 1
SIMHASH_BAND_BITS = 64 // SIMHASH_BANDS
SIMHASH_MAX_BUCKET = 200  # hot-bucket cap, same role as MAX_BUCKET


def _simhash_band_key(b: int, width: int = SIMHASH_BAND_BITS):
    mask = (1 << width) - 1
    return (
        F.shiftrightunsigned(F.col("simhash"), width * b)
        .bitwiseAND(F.lit(mask))
    )


def simhash_band_keys(sh: DataFrame) -> DataFrame:
    """(doc_id, simhash) → one (doc_id, simhash, band, key) row per band
    — the BASE bucket table. Exposed so tests can assert bucket-space
    statistics (16-bit keys: up to 65 536 buckets/band, growing with the
    corpus, vs the old 8-bit scheme's hard 256/band ceiling)."""
    return sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        _simhash_band_key(b).alias("key"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.key")


def simhash_near_pairs(
    docs: DataFrame,
    max_hamming: int = 7,
    max_bucket: int | None = SIMHASH_MAX_BUCKET,
) -> DataFrame:
    """Hamming-close pairs via 4×16-bit bands with within-band hamming-≤1
    multi-probe — sub-quadratic candidate generation at corpus scale.

    The previous 8×8-bit banding had only 256 possible buckets per band,
    so EVERY bucket was hot by construction and the self-join generated
    Θ(n²/32) candidates regardless of data. Here each band has 65 536
    possible keys (bucket count grows with the corpus until saturation
    ~n), and each doc probes 17 keys per band (identity + all 16
    hamming-1 flips): a pair differing by ≤ 1 bit in SOME band meets in
    that band's bucket.

    Recall guarantee (pigeonhole): hamming ≤ 7 across 4 bands forces
    some band to differ in ≤ 1 bit (all four differing by ≥ 2 would need
    ≥ 8), so every such pair becomes a candidate; ``bit_count`` then
    verifies exactly. ``max_hamming > 7`` would silently under-recall
    and is rejected loudly.

    ``max_bucket`` caps BASE-side bucket size (same role and default as
    ``lsh_candidate_pairs``): a band key shared by more docs carries no
    dedup signal (boilerplate) and would make a quadratic bucket.
    Because each probe row meets exactly one capped bucket, candidates
    are ≤ 68·max_bucket per doc — linear in n. The join uses
    ``doc_id != doc_id`` + least/greatest so a pair is still found when
    only ONE member's base bucket survives the cap.
    """
    if max_hamming > 2 * SIMHASH_BANDS - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the recall guarantee of "
            f"{SIMHASH_BANDS} bands with hamming-1 probes "
            f"(hamming <= {2 * SIMHASH_BANDS - 1}); candidate generation "
            "would silently miss pairs"
        )
    width = SIMHASH_BAND_BITS
    # the text-hashing pass runs ONCE: both join sides (base buckets and
    # probe rows) branch off this materialized (doc_id, simhash) table —
    # 16 bytes/doc, safe to checkpoint at any corpus size
    sh = simhash(docs).localCheckpoint(eager=True)
    base = simhash_band_keys(sh)
    if max_bucket is not None:
        base = cap_hot_buckets(base, ("band", "key"), max_bucket)
    probes = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        _simhash_band_key(b).bitwiseXOR(F.lit(flip)).alias("key"),
                    )
                    for b in range(SIMHASH_BANDS)
                    for flip in [0] + [1 << i for i in range(width)]
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.key")
    # shuffle_hash on the BASE side: both sides hash-partition on
    # (band, key) and the 4-rows/doc base builds the hash table — the
    # planner would otherwise BROADCAST the 68-rows/doc probe table
    # (fine at test scale, catastrophic at corpus scale)
    return (
        probes.alias("a")
        .join(
            base.alias("b").hint("shuffle_hash"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def ceil_frac(n, tau: float):
    """⌈tau·n⌉ in EXACT integer arithmetic (tau rationalized to
    num/den). Float ceil is WRONG here: 0.55*100 is 55.000…007 in
    doubles, so F.ceil(lit(0.55)*n) yields 56 — which would shorten
    the prefix by one token and silently break the lossless-prefix
    guarantee. x − x%den is an exact multiple of den, so the final
    division is exact for any realistic n."""
    from fractions import Fraction

    fr = Fraction(tau).limit_denominator(1_000_000)
    num, den = fr.numerator, fr.denominator
    x = F.lit(num) * n + F.lit(den - 1)
    return ((x - x % F.lit(den)) / F.lit(den)).cast("int")


def jaccard_prefix_join(
    docs: DataFrame,
    tau: float = 0.7,
    text_col: str = "text",
) -> DataFrame:
    """EXACT set-similarity self-join: all document pairs whose
    distinct-word-set Jaccard is >= ``tau`` — via LOSSLESS prefix
    filtering (Chaudhuri et al. SSJoin / PPJoin family), the exact
    complement to the probabilistic minhash-LSH candidate path.

    Guarantee: order every doc's token set by ascending global
    frequency (rarest first, token tie-break); two sets with
    J >= tau MUST share a token inside their length
    ``n - ceil(tau*n) + 1`` prefixes, so equi-joining on prefix
    tokens generates a candidate superset — verification is then
    exact, and nothing is lost (the oracle brute-forces ALL pairs to
    prove it).

    Scale shape: token frequencies are one count shuffle; per-doc
    frequency-sorted token arrays are a token-keyed join + one
    doc-keyed collect_list agg (map-side array_sort + prefix slice);
    candidates come from ONE equi join on the prefix token (rare
    tokens by construction -> bounded fan-out, the point of prefix
    filtering); exact verify joins the two token arrays back by doc
    key and computes |A∩B| / (|A|+|B|-|A∩B|) with set semantics. No
    all-pairs stage anywhere.
    """
    toks_raw = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    t = docs.select(
        "doc_id",
        F.array_distinct(
            F.filter(toks_raw, lambda x: x != F.lit(""))
        ).alias("toks"),
    ).filter(F.size("toks") > 0)
    freq = (
        t.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("tf"))
    )
    # per-doc tokens sorted by (global freq asc, token) — struct sort.
    # Pinned ONCE (eager localCheckpoint, disk-backed): three consumers
    # read it (prefix candidates + both verify sides) and column
    # pruning specializes their subtrees, so without the pin the whole
    # tokenize→freq-join→collect_list chain re-ran per consumer
    # (plan showed 9 scans / 3 chains; the semdedup rank-table
    # discipline)
    sorted_toks = (
        t.select("doc_id", F.explode("toks").alias("tok"))
        .join(freq, "tok")
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("tf", "tok"))
            ).alias("st")
        )
        .select(
            "doc_id",
            F.transform("st", lambda s: s["tok"]).alias("toks"),
        )
        .localCheckpoint(eager=True)
    )
    n = F.size("toks")
    prefix_len = n - ceil_frac(n, tau) + F.lit(1)
    prefixes = sorted_toks.select(
        "doc_id", F.explode(F.slice("toks", F.lit(1), prefix_len)).alias("tok")
    )
    a = prefixes.select(F.col("doc_id").alias("doc_a"), "tok")
    b = prefixes.select(F.col("doc_id").alias("doc_b"), "tok")
    cands = (
        a.join(b, "tok")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    ta = sorted_toks.select(
        F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a")
    )
    tb = sorted_toks.select(
        F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b")
    )
    ni = F.size(F.array_intersect("toks_a", "toks_b"))
    jac = ni.cast("double") / (
        F.size("toks_a") + F.size("toks_b") - ni
    ).cast("double")
    return (
        cands.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= F.lit(float(tau)))
    )


def edit_distance_join(strings: DataFrame, col: str = "s") -> DataFrame:
    """All distinct-string pairs at Levenshtein distance <= 1, via
    DELETION-NEIGHBORHOOD blocking (the SymSpell trick): each string's
    block keys are itself plus every single-character deletion; any
    pair within one insert/delete/substitute shares at least one key
    (substitution -> both delete the differing position; ins/del ->
    the shorter string IS a deletion of the longer). Exact
    ``levenshtein`` verification then filters the candidate superset —
    nothing lost, nothing spurious.

    Scale shape: key generation is a map-side array HOF (transform
    over a 1..len sequence — no Python); candidates come from ONE
    equi join on the variant key (blocks are tiny for natural-language
    tokens); verify is JVM ``levenshtein`` on candidate pairs only.
    Never all-pairs. Empty strings are dropped (a 1-char string and ''
    are distance 1 but '' blocks with everything 1-char; callers
    wanting '' handle it trivially).
    """
    s = (
        strings.select(F.col(col).alias("s"))
        .filter(F.col("s") != "")
        .distinct()
    )
    ln = F.length("s")
    variants = F.array_distinct(
        F.array_union(
            F.array(F.col("s")),
            F.transform(
                F.sequence(F.lit(1), ln),
                lambda i: F.concat(
                    F.col("s").substr(F.lit(1), i - 1),
                    F.col("s").substr(i + 1, ln - i),
                ),
            ),
        )
    )
    keyed = s.select("s", F.explode(variants).alias("v"))
    a = keyed.select(F.col("s").alias("s_a"), "v")
    b = keyed.select(F.col("s").alias("s_b"), "v")
    return (
        a.join(b, "v")
        .filter(F.col("s_a") < F.col("s_b"))
        .select("s_a", "s_b")
        .distinct()
        .withColumn("dist", F.levenshtein("s_a", "s_b"))
        .filter(F.col("dist") <= 1)
    )


def write_band_index(
    docs: DataFrame,
    path: str,
    n_hashes: int = N_HASHES,
    band_size: int = BAND_SIZE,
    max_bucket: int | None = MAX_BUCKET,
) -> None:
    """Materialize the corpus's capped LSH band table (doc_id, band,
    key) at rest — the INDEX side of incremental dedup. ~n_bands rows
    of a few tens of bytes per doc; the text-hashing pipeline runs
    exactly once, at index-build time, and never again for this
    corpus slice."""
    bands = band_keys(minhash_signatures(docs, n_hashes), n_hashes, band_size)
    if max_bucket is not None:
        bands = cap_hot_buckets(bands, ("band", "key"), max_bucket)
    bands.write.mode("overwrite").parquet(path)


def lsh_pairs_against_index(
    new_docs: DataFrame,
    index_bands: DataFrame,
    n_hashes: int = N_HASHES,
    band_size: int = BAND_SIZE,
    max_bucket: int | None = MAX_BUCKET,
) -> DataFrame:
    """Incremental near-dedup (the daily-crawl production shape): the
    NEW batch's band keys probe the AT-REST index — only the
    increment is hashed, the corpus is never re-read, and the join is
    new-batch-sized on one side. Candidate pairs (new_id, old_id)
    come back distinct; verify with :func:`verify_pairs` over
    new ∪ matched-old texts only."""
    sig = minhash_signatures(new_docs, n_hashes)
    nb = band_keys(sig, n_hashes, band_size)
    if max_bucket is not None:
        nb = cap_hot_buckets(nb, ("band", "key"), max_bucket)
    return (
        nb.alias("n")
        .join(index_bands.alias("o"), ["band", "key"])
        .filter(F.col("n.doc_id") != F.col("o.doc_id"))
        .select(
            F.col("n.doc_id").alias("doc_a"),
            F.col("o.doc_id").alias("doc_b"),
        )
        .distinct()
    )
