"""Oracle tests for the verify stage: the Spark plan must reproduce the
driver-side exact Jaccard of the re-shingled texts (per text version
where a doc_id has several), keep inner-join semantics for pairs whose
doc is missing, and gate on τ after the signature-estimate prefilter.
Reference parity: the two-level verify gate, kmer_search.cpp:100-112.
"""

from __future__ import annotations

from collections import Counter, defaultdict

from pyspark.sql import functions as F

from hsearch_spark.config import DedupConfig
from hsearch_spark.functions import hashing as H
from hsearch_spark.functions.signatures import add_signature_columns, explode_bands
from hsearch_spark.functions.text import extract_pages
from hsearch_spark.operators.candidates import candidate_pairs
from hsearch_spark.operators.verify import minhash_estimate, verify_pairs
from hsearch_spark.sources.pages import pages_dataframe


def _fixture(spark, n_docs=250, seed=17):
    config = DedupConfig()
    pages, _ = pages_dataframe(spark, n_docs=n_docs, seed=seed)
    docs = extract_pages(pages).localCheckpoint()
    sigs = add_signature_columns(docs, config).localCheckpoint()
    cands = candidate_pairs(explode_bands(sigs, config), config).localCheckpoint()
    return config, docs, sigs, cands


def _oracle(docs, cands, k):
    """{(a, b): exact Jaccard} computed on the driver from the texts."""
    text = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    return {
        (r.a, r.b): H.jaccard(
            H.shingle_hashes(str(text[r.a]), k), H.shingle_hashes(str(text[r.b]), k)
        )
        for r in cands.collect()
    }


# no gate, no threshold: every joined row comes back with its exact value
_EXACT_ONLY = DedupConfig(
    est_prefilter=None, jaccard_threshold=0.0, validate_banding=False
)


def test_exact_jaccard_matches_driver_oracle(spark):
    """3 doc_ids get a second text (and signature), as a re-crawl leaves
    them in the stream's state: the joins give one row per (text of a,
    text of b), and each row carries its own versions' exact Jaccard.
    A shingle cache keyed by doc_id alone would score a second version
    with the first one's shingles."""
    config, docs, sigs, cands = _fixture(spark)
    again = [r.a for r in cands.select("a").distinct().limit(3).collect()]
    assert len(again) == 3
    recrawl = docs.where(F.col("doc_id").isin(again)).withColumn(
        "text", F.concat("text", F.lit(" re-crawled with a new footer line"))
    )
    docs = docs.unionByName(recrawl)
    sigs = sigs.unionByName(add_signature_columns(recrawl, config))
    shingles = defaultdict(list)
    for r in docs.select("doc_id", "text").collect():
        shingles[r.doc_id].append(H.shingle_hashes(str(r.text), config.shingle_k))
    want = Counter(
        (r.a, r.b, H.jaccard(x, y))
        for r in cands.collect()
        for x in shingles[r.a]
        for y in shingles[r.b]
    )
    got = Counter(
        (r.a, r.b, r.jaccard)
        for r in verify_pairs(cands, sigs, docs, _EXACT_ONLY).collect()
    )
    assert sum(want.values()) > cands.count() > 0
    assert got == want  # exact float equality: same kernel, every row


def test_exact_jaccard_drops_pairs_with_missing_doc(spark):
    """Inner-join semantics: a pair touching a doc absent from `docs` is
    dropped; every other pair keeps its exact value."""
    config, docs, sigs, cands = _fixture(spark)
    gone = {r.a for r in cands.select("a").distinct().limit(3).collect()}
    assert len(gone) == 3
    docs_holey = docs.where(~F.col("doc_id").isin(list(gone)))
    want = {
        p: j
        for p, j in _oracle(docs, cands, config.shingle_k).items()
        if gone.isdisjoint(p)
    }
    got = {
        (r.a, r.b): r.jaccard
        for r in verify_pairs(cands, sigs, docs_holey, _EXACT_ONLY).collect()
    }
    assert got == want


def test_verify_pairs_is_prefilter_survivors_at_threshold(spark):
    config, docs, sigs, cands = _fixture(spark)
    survivors = (
        minhash_estimate(cands, sigs)
        .where(F.col("jaccard_est") >= config.est_prefilter)
        .select("a", "b")
    )
    want = {
        (a, b, j, "minhash")
        for (a, b), j in _oracle(docs, survivors, config.shingle_k).items()
        if j >= config.jaccard_threshold
    }
    got = {
        (r.a, r.b, r.jaccard, r.method)
        for r in verify_pairs(cands, sigs, docs, config).collect()
    }
    assert len(want) > 0
    assert got == want
