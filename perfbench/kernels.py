"""Driver-side probes of the ``functions`` kernels the Spark UDFs and the
posting kernel call on executors, run on a seeded sample of the generated
input (traced run only).  Each probe repeats its kernel for at least
``MIN_S`` seconds and reports a rate."""

from __future__ import annotations

import time

import numpy as np
import pandas as pd

from gitlab_elasticsearch_indexer_spark.config import BLOCK_SIZE
from gitlab_elasticsearch_indexer_spark.functions import analysis, codec, encoding

MIN_S = 0.5
SAMPLE = 1000  # pages; below the 10k-row Arrow batch, so one call == one batch


def _rate(fn, units: float) -> float:
    n, t0 = 0, time.perf_counter()
    while True:
        fn()
        n += 1
        dt = time.perf_counter() - t0
        if dt >= MIN_S:
            return units * n / dt


def _postings(token_lists: list[list[str]]) -> list[tuple]:
    """(docids, tfs, (positions, occ_start, occ_end)) blocks of every term
    in the sample, the flat shape the posting kernel encodes; sample docids
    stay inside one DOCS_PER_RANGE docid range, as in a segment block."""
    occ: dict[str, dict[int, list[int]]] = {}
    for doc, toks in enumerate(token_lists):
        for pos, t in enumerate(toks):
            occ.setdefault(t, {}).setdefault(doc, []).append(pos)
    blocks = []
    for per_doc in occ.values():
        docids = np.fromiter(per_doc, dtype=np.int64)
        for s in range(0, len(docids), BLOCK_SIZE):
            d = docids[s:s + BLOCK_SIZE]
            tfs = np.array([len(per_doc[i]) for i in d])
            ends = np.cumsum(tfs)
            poss = np.concatenate([per_doc[i] for i in d]).astype(np.int32)
            blocks.append((d, tfs, (poss, ends - tfs, ends)))
    return blocks


def probe(corpus, seed: int) -> dict[str, float]:
    rng = np.random.default_rng([seed, 4])
    idx = rng.choice(len(corpus), size=min(SAMPLE, len(corpus)), replace=False)
    idx = idx[np.array([corpus.kind[i] != "oversize" for i in idx])]
    html = pd.Series([corpus.html[i] for i in idx], dtype=object)
    texts = pd.Series([corpus.text[i] or "" for i in idx], dtype=object)
    tokens = analysis.tokenize_series(texts, "default")
    n_tokens = int(tokens.map(len).sum())
    blocks = _postings(list(tokens))
    n_postings = sum(len(d) for d, _, _ in blocks)
    enc = [(codec.encode_docids(d), codec.encode_tfs(t), len(d)) for d, t, _ in blocks]

    def encode():
        for d, t, p in blocks:
            codec.encode_docids(d)
            codec.encode_tfs(t)
            codec.encode_positions_block(*p)

    def decode():
        for de, te, n in enc:
            codec.decode_docids(de, count=n)
            codec.decode_tfs(te, count=n)

    return {
        "kernel.transcode_mb_per_s": _rate(lambda: encoding.try_encode_series(html),
                                           sum(map(len, html)) / 1e6),
        "kernel.tokenize_tokens_per_s": _rate(
            lambda: analysis.tokenize_series(texts, "default"), n_tokens),
        "kernel.encode_postings_per_s": _rate(encode, n_postings),
        "kernel.decode_postings_per_s": _rate(decode, n_postings),
    }
