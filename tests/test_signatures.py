"""Signature UDF and SimHash UDF output == pure-numpy oracle (same
functions, but proves the Arrow round-trip and batching don't perturb
anything), plus band explosion shape.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from hsearch_spark.config import DedupConfig
from hsearch_spark.functions import hashing as H
from hsearch_spark.functions.signatures import add_signature_columns, explode_bands
from hsearch_spark.operators.candidates import add_simhash

CFG = DedupConfig()


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_signature_udf_matches_numpy_oracle(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog and keeps running",
        "completely different content about rivers and mountains here",
        "",  # empty edge case
        "short",
        "the quick brown fox jumps over the lazy dog and keeps running",  # dup of 0
    ]
    sigs = {
        r["doc_id"]: r
        for r in add_signature_columns(_docs(spark, texts), CFG).collect()
    }
    salt = CFG.minhash_salt()
    for i, t in enumerate(texts):
        sh = H.shingle_hashes(t, CFG.shingle_k)
        assert bytes(sigs[i]["sig"]) == H.minhash_signature_packed(
            sh, CFG.num_perm, salt
        )
        assert np.array_equal(
            np.frombuffer(bytes(sigs[i]["sig"]), dtype=np.uint32),
            H.minhash_signature(sh, CFG.num_perm, salt),
        )
    # identical text → identical signature
    assert list(sigs[0]["sig"]) == list(sigs[4]["sig"])
    assert sigs[0].asDict().keys() == {"doc_id", "sig", "anchors"}


def test_add_simhash_matches_numpy_oracle(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog and keeps running",
        "completely different content about rivers and mountains here",
        "",  # empty edge case
        "short",
        "the quick brown fox jumps over the lazy dog and keeps running",  # dup of 0
        None,  # hashes as ''
    ]
    got = {
        r["doc_id"]: r["simhash"]
        for r in add_simhash(_docs(spark, texts), CFG).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == H.simhash64(H.shingle_hashes(t or "", CFG.shingle_k))
    assert got[0] == got[4]
    assert got[2] == got[5] == 0


def test_signatures_partitioning_invariant(spark):
    texts = [f"document number {i} " + "filler words here " * (i % 7 + 3) for i in range(50)]
    d = _docs(spark, texts)
    s1 = {r["doc_id"]: list(r["sig"]) for r in add_signature_columns(d, CFG).collect()}
    s2 = {
        r["doc_id"]: list(r["sig"])
        for r in add_signature_columns(d.repartition(13), CFG).collect()
    }
    assert s1 == s2


def test_explode_bands_shape_and_semantics(spark):
    # docs 0 and 2 identical, doc 1 unrelated: identical signatures must
    # agree on every band key; unrelated ones on none (w.h.p.). Texts are
    # long enough (shingles ≫ num_perm bins) that OPH densification never
    # triggers — tiny docs with a few shared shingles CAN share a
    # densified band (they become candidates and exact-verify rejects
    # them; cheapness, not correctness).
    texts = [
        "a reasonably long text for banding purposes with many words " * 30,
        "zq zx qv jk wy fb gh pm dn rs tl cu ei oa different corpus " * 30,
        "a reasonably long text for banding purposes with many words " * 30,
    ]
    sigs = add_signature_columns(_docs(spark, texts), CFG)
    rows = explode_bands(sigs, CFG).collect()
    assert len(rows) == len(texts) * CFG.bands
    by_doc = {
        d: {r["band_id"]: r["band_hash"] for r in rows if r["doc_id"] == d}
        for d in range(3)
    }
    assert sorted(by_doc[0]) == list(range(CFG.bands))  # all band ids present
    assert by_doc[0] == by_doc[2]
    assert all(by_doc[0][i] != by_doc[1][i] for i in range(CFG.bands))
    # band keys are salted by band_id: same slice value in different bands
    # must not collide into the same bucket key space
    assert len({h for h in by_doc[0].values()}) == CFG.bands


def test_explode_bands_keys_match_per_band_columns(spark):
    """The one-expression explode_bands gives each band the key
    xxhash64(i, 4·r-byte slice i of sig), built here per band as Columns."""
    texts = [
        f"doc {i} " + "shared words for several bands " * (i + 3) for i in range(6)
    ]
    sigs = add_signature_columns(_docs(spark, texts), CFG).localCheckpoint()
    r_bytes = CFG.rows_per_band * 4
    expected = set()
    for i in range(CFG.bands):
        key = F.xxhash64(F.lit(i), F.substring("sig", i * r_bytes + 1, r_bytes))
        expected |= {
            tuple(r)
            for r in sigs.select("doc_id", F.lit(i), key.alias("h")).collect()
        }
    rows = explode_bands(sigs, CFG).select("doc_id", "band_id", "band_hash").collect()
    assert len(rows) == len(texts) * CFG.bands
    assert set(map(tuple, rows)) == expected
