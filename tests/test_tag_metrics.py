"""Fused geo-tag + per-page metrics pass: simhash consistency with the
standalone dedup operator, token counts vs oracle."""

import numpy as np
import pandas as pd

from europe_gis_spark.datagen import geodata, pages as pgen
from europe_gis_spark.operators import dedup, geo_join


def test_tag_pages_metrics_consistent(spark):
    pages_pdf = pgen.pages_pandas(np.arange(300), seed=42)
    pages_df = spark.createDataFrame(pages_pdf)
    polys_df = spark.createDataFrame(
        geodata.admin_polygons().query("levl_code == 3")
    )
    idx_bc = geo_join.build_polygon_index_bc(spark, polys_df)
    tagged = geo_join.tag_pages(
        pages_df, idx_bc, host_hints=pgen.host_city_hints(), with_metrics=True
    ).collect()
    got_sim = {r.url: r.simhash for r in tagged}
    got_tok = {r.url: r.n_tokens for r in tagged}

    # simhash must equal the standalone dedup.simhash on the same text
    docs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": range(len(pages_pdf)), "text": pages_pdf.text}
        )
    )
    want = {
        pages_pdf.url.iloc[r.doc_id]: r.simhash
        for r in dedup.simhash(docs).collect()
    }
    assert got_sim == want

    for u, t in zip(pages_pdf.url, pages_pdf.text):
        assert got_tok[u] == len(t.split())

    # poly assignments identical with and without metrics
    plain = {
        r.url: r.poly_id
        for r in geo_join.tag_pages(
            pages_df, idx_bc, host_hints=pgen.host_city_hints()
        ).collect()
    }
    assert plain == {r.url: r.poly_id for r in tagged}


def _simhash_reference(text):
    """Per-document bit vote over ``pd.util.hash_array`` of the doc's
    tokens, bit j ↔ column j of ``np.unpackbits`` over the hash bytes."""
    toks = (text or "").split()
    if not toks:
        return 0
    h = pd.util.hash_array(np.asarray(toks, dtype=object))
    votes = np.unpackbits(h.view(np.uint8).reshape(-1, 8), axis=1).sum(axis=0)
    val = sum(1 << j for j in range(64) if 2 * int(votes[j]) > len(toks))
    return val - (1 << 64) if val >= 1 << 63 else val


def test_simhash_counts_match_per_doc_reference():
    """The batch kernel (byte-lane counters summed in ≤ 255-token runs)
    equals the per-document vote, across run boundaries (255/256/511
    tokens, a token repeated 2,000 times would wrap an unsplit one-byte
    counter), empty and ``None`` docs, ``\\x1c`` separators (whitespace
    to ``str.split``) and non-ASCII text; ``n_tokens`` is ``len(split())``."""
    rng = np.random.default_rng(3)
    vocab = [f"w{i}" for i in range(40)] + ["Zürich", "straße", "東京", "ß"]

    def doc(n):
        return " ".join(rng.choice(vocab, n))

    texts = [
        "", None, doc(1), " \t\n  ", doc(255), doc(256), None, doc(511),
        doc(2000), " ".join(["same"] * 2000), "a\x1cb\x1c\x1cc", " x y ",
        "Ünïcödé — “quoted” text 東京 δ", doc(254), "",
    ] + [doc(int(n)) for n in rng.integers(0, 40, 50)]
    sims, ntok = dedup.simhash_counts(texts)
    assert sims.dtype == np.int64 and ntok.dtype == np.int32
    assert ntok.tolist() == [len((t or "").split()) for t in texts]
    assert sims.tolist() == [_simhash_reference(t) for t in texts]
    np.testing.assert_array_equal(dedup.simhash_batch(texts), sims)
    assert dedup.simhash_counts([])[0].shape == (0,)
