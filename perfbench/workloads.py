"""Seeded input generators for the three benchmark workloads.

Each generator is a pure function of its arguments (numpy PCG64 seeded
from `seed`), runs in one process without Spark, and returns the pages
table plus the planted truth the correctness check scores against.

- web_mix:          the repo's own `generate_pages` mix (exact, near,
                    substring, boilerplate, unique), unchanged.
- dup_dense_store:  ~80% of docs in near-dup families of ~20 members
                    (some members byte-identical), one templated family
                    larger than `max_bucket_all_pairs`, the rest unique.
- stream_recrawl:   a base corpus (`generate_pages` mix plus one hot
                    templated family) and an unbounded sequence of fixed
                    micro-batches of fresh pages, re-crawled near-copies
                    of base pages and new members of the hot family.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from hsearch_spark.sources.pages import generate_pages

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"

# Word stems × numeric suffixes: ~100k distinct terms, so unrelated pages
# share few char 5-grams (background Jaccard well under the 0.8 gate).
_STEMS = (
    "data spark shuffle cluster quality filter token stream batch window "
    "join merge hash group query index value page text corpus model crawl "
    "parse link site news article report market price trade stock game "
    "team match season travel city river valley forest garden house light "
    "coffee bread water paper letter number system network signal device"
).split()


def _words(rng: np.random.Generator, n: int) -> list[str]:
    stems = rng.choice(_STEMS, size=n)
    tags = rng.integers(0, 1500, size=n)
    return [f"{s}{t}" for s, t in zip(stems, tags)]


def _edit(rng: np.random.Generator, toks: list[str], lo: float, hi: float) -> str:
    """Replace a lo..hi fraction of tokens (at least one) with fresh words."""
    out = list(toks)
    n_edit = max(1, int(len(out) * rng.uniform(lo, hi)))
    fresh = _words(rng, n_edit)
    for pos, w in zip(rng.choice(len(out), size=n_edit, replace=False), fresh):
        out[pos] = w
    return " ".join(out)


def _pages_frame(urls: list[str], texts: list[str], ts0: int) -> pd.DataFrame:
    html = [
        f"<html><head><title>t{ts0 + i}</title></head><body><p>{t}</p></body></html>".encode()
        for i, t in enumerate(texts)
    ]
    return pd.DataFrame(
        {
            "url": urls,
            "warc_ts": pd.Timestamp("2024-01-01")
            + pd.to_timedelta(np.arange(ts0, ts0 + len(urls)), unit="s"),
            "html": html,
            "text": texts,
            "lang": "en",
        }
    )


def _group_pairs(groups: list[list[str]]) -> pd.DataFrame:
    """All within-group (a_url, b_url) pairs, a_url < b_url."""
    rows = []
    for g in groups:
        g = sorted(set(g))
        for i in range(len(g)):
            for j in range(i + 1, len(g)):
                rows.append((g[i], g[j]))
    return pd.DataFrame(rows, columns=["a_url", "b_url"])


@dataclass(frozen=True)
class BatchInput:
    pages: pd.DataFrame        # (url, warc_ts, html, text, lang)
    truth_pairs: pd.DataFrame  # (a_url, b_url): every planted dup pair


def web_mix(seed: int, n_docs: int) -> BatchInput:
    fx = generate_pages(n_docs, seed)
    return BatchInput(fx.pdf, fx.truth_pairs[["a_url", "b_url"]])


def dup_dense_store(seed: int, n_docs: int) -> BatchInput:
    rng = np.random.default_rng(seed)
    n_hot = max(65, n_docs // 8)
    fam_budget = n_docs * 8 // 10
    urls: list[str] = []
    texts: list[str] = []
    groups: list[list[str]] = []

    # templated family: one template, each member changes 2-3 slot words
    # (a product/listing page) → every band bucket of it holds n_hot docs
    template = _words(rng, 180)
    hot = []
    for m in range(n_hot):
        u = f"https://shop.example/item/{m}"
        hot.append(u)
        urls.append(u)
        texts.append(_edit(rng, template, 0.011, 0.017))
    groups.append(hot)

    # near-dup families of 20 members; every 5th member repeats the
    # previous one byte for byte (exact channel). Fixed sizes keep the
    # work per pass the same from seed to seed.
    for f in range(fam_budget // 20):
        size = 20
        proto = _words(rng, int(rng.integers(120, 200)))
        members = []
        for m in range(size):
            u = f"https://site{f % 11}.example/fam{f}/p{m}"
            text = texts[-1] if m % 5 == 4 else _edit(rng, proto, 0.01, 0.04)
            members.append(u)
            urls.append(u)
            texts.append(text)
        groups.append(members)

    while len(urls) < n_docs:
        urls.append(f"https://solo{len(urls) % 13}.example/u{len(urls)}")
        texts.append(" ".join(_words(rng, int(rng.integers(80, 240)))))

    pages = _pages_frame(urls, texts, 0).sample(frac=1.0, random_state=seed)
    return BatchInput(pages.reset_index(drop=True), _group_pairs(groups))


@dataclass(frozen=True)
class StreamInput:
    base: pd.DataFrame               # pages indexed before timing starts
    seed: int
    batch_docs: int
    base_groups: list[list[str]]     # exact/near/hot families of the base
    hot_template: list[str]

    def batch(self, i: int) -> tuple[pd.DataFrame, list[tuple[str, str]]]:
        """Micro-batch i (pages, [(recrawl_url, source_url)]): 60% fresh
        pages, 30% re-crawled near-copies of base pages under a new url,
        10% new members of the hot family. Seeded by (seed, i), so batch
        i is the same whatever number of batches a run processes."""
        rng = np.random.default_rng([self.seed, i])
        n_hot = max(1, self.batch_docs // 10)
        n_re = self.batch_docs * 3 // 10
        n_fresh = self.batch_docs - n_hot - n_re
        urls, texts, links = [], [], []
        src = rng.choice(len(self.base), size=n_re, replace=False)
        for j, k in enumerate(src):
            u = f"https://mirror{j % 5}.example/b{i}/r{j}"
            urls.append(u)
            texts.append(_edit(rng, self.base["text"].iat[k].split(), 0.01, 0.03))
            links.append((u, self.base["url"].iat[k]))
        for j in range(n_hot):
            u = f"https://shop.example/item/b{i}-{j}"
            urls.append(u)
            texts.append(_edit(rng, self.hot_template, 0.011, 0.017))
            links.append((u, "https://shop.example/item/0"))
        for j in range(n_fresh):
            urls.append(f"https://fresh{j % 7}.example/b{i}/n{j}")
            texts.append(" ".join(_words(rng, int(rng.integers(80, 240)))))
        ts0 = len(self.base) + i * self.batch_docs
        return _pages_frame(urls, texts, ts0), links

    def truth_pairs(self, n_batches: int) -> pd.DataFrame:
        """Planted exact/near pairs of the base plus batches 0..n-1.
        Substring families are excluded: streaming has no substring
        channel."""
        parent: dict[str, str] = {}

        def find(x: str) -> str:
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for g in self.base_groups:
            for u in g[1:]:
                parent[find(u)] = find(g[0])
        for i in range(n_batches):
            for a, b in self.batch(i)[1]:
                parent[find(a)] = find(b)
        groups: dict[str, list[str]] = {}
        for u in list(parent):
            groups.setdefault(find(u), []).append(u)
        return _group_pairs([g for g in groups.values() if len(g) > 1])


def stream_recrawl(seed: int, n_base: int, batch_docs: int) -> StreamInput:
    fx = generate_pages(n_base, seed)
    rng = np.random.default_rng([seed, 1 << 20])
    n_hot = 80  # > max_bucket_all_pairs: the probe join meets a hot bucket
    template = _words(rng, 180)
    hot_urls = [f"https://shop.example/item/{m}" for m in range(n_hot)]
    hot = _pages_frame(
        hot_urls,
        [_edit(rng, template, 0.011, 0.017) for _ in range(n_hot)],
        len(fx.pdf),
    )
    base = pd.concat([fx.pdf, hot], ignore_index=True)
    base = base.sample(frac=1.0, random_state=seed).reset_index(drop=True)
    dup = fx.truth_pairs[fx.truth_pairs["kind"].isin(["exact", "near"])]
    groups = [[a, b] for a, b in zip(dup["a_url"], dup["b_url"])] + [hot_urls]
    return StreamInput(base, seed, batch_docs, groups, template)
