"""Property-based checks of the exact-substring span operators and
document chunking.

The places where bugs hide: overlapping spans (interval-union math),
within-document repeats (distinct-document frequency), spans touching
document boundaries, stats/removal disagreement, and lossless chunk
overlap. Hypothesis drives random small corpora against brute-force
Python oracles.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

VOCAB = ["a", "b", "c", "d", "e"]


def _brute_spans(texts: dict[int, str], window: int, min_docs: int):
    """Brute-force duplicate-span stats + stripped text per document."""
    words = {i: t.split(" ") for i, t in texts.items()}
    # window -> set of docs containing it
    seen: dict[str, set[int]] = {}
    for i, w in words.items():
        for p in range(len(w) - window + 1):
            key = " ".join(w[p : p + window])
            seen.setdefault(key, set()).add(i)
    out = {}
    for i, w in words.items():
        covered = set()
        n_dup = 0
        for p in range(len(w) - window + 1):
            key = " ".join(w[p : p + window])
            if len(seen[key]) >= min_docs:
                n_dup += 1
                covered.update(range(p, p + window))
        stripped = " ".join(
            x for p, x in enumerate(w) if p not in covered
        )
        out[i] = (
            len(w),
            max(len(w) - window + 1, 0),
            n_dup,
            len(covered),
            stripped,
        )
    return out


@given(
    n_docs=st.integers(2, 10),
    doc_len=st.integers(1, 14),
    window=st.integers(2, 4),
    min_docs=st.integers(2, 3),
    seed=st.integers(0, 2**31 - 1),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_duplicate_spans_match_bruteforce(
    spark, n_docs, doc_len, window, min_docs, seed,
):
    import numpy as np

    from sed_spark.ext import dedup

    rng = np.random.default_rng(seed)
    texts = {
        i: " ".join(rng.choice(VOCAB, size=doc_len))
        for i in range(n_docs)
    }
    expect = _brute_spans(texts, window, min_docs)
    docs = spark.createDataFrame(
        list(texts.items()), ["doc_id", "text"],
    )
    got_stats = {
        r.doc_id: (
            r.n_tokens, r.n_windows, r.n_dup_windows, r.covered_tokens,
        )
        for r in dedup.duplicate_spans(
            docs, window=window, min_docs=min_docs,
        ).collect()
    }
    got_strip = {
        r.doc_id: r.text
        for r in dedup.strip_duplicate_spans(
            docs, window=window, min_docs=min_docs,
        ).collect()
    }
    for i, (nt, nw, nd, cov, stripped) in expect.items():
        assert got_stats[i] == (nt, nw, nd, cov), (i, texts[i])
        assert got_strip[i] == stripped, (i, texts[i])
        # stats and removal must agree: covered + surviving = total
        n_surv = len(got_strip[i].split(" ")) if got_strip[i] else 0
        assert n_surv == nt - cov


@given(
    doc_len=st.integers(0, 40),
    chunk=st.integers(2, 10),
    overlap=st.integers(0, 8),
    seed=st.integers(0, 2**31 - 1),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_chunks_reassemble_to_original(spark, doc_len, chunk, overlap, seed):
    """Dropping each chunk's leading ``overlap`` tokens (except the
    first's) and concatenating must reproduce the document exactly —
    the invariant that makes overlapping chunks lossless."""
    import numpy as np

    from sed_spark.ext import text

    overlap = min(overlap, chunk - 1)
    rng = np.random.default_rng(seed)
    words = [f"w{int(k)}" for k in rng.integers(0, 50, doc_len)]
    doc = " ".join(words)
    df = spark.createDataFrame([(0, doc)], ["doc_id", "text"])
    rows = sorted(
        text.chunk_documents(
            df, chunk_tokens=chunk, overlap=overlap,
        ).collect(),
        key=lambda r: r.chunk_idx,
    )
    assert rows, "at least one chunk even for empty docs"
    assert {r.n_chunks for r in rows} == {len(rows)}
    stride = chunk - overlap
    rebuilt: list[str] = []
    for r in rows:
        # mirror Spark's split semantics: "" tokenizes to [""]
        toks = r.chunk_text.split(" ")
        assert r.n_chunk_tokens == len(toks)
        rebuilt.extend(toks if r.chunk_idx == 0 else toks[overlap:])
        # every chunk except possibly the last is exactly chunk_tokens
        if r.chunk_idx < len(rows) - 1:
            assert len(toks) == chunk
        # chunks beyond the first start at chunk_idx * stride
        if r.chunk_idx > 0:
            start = r.chunk_idx * stride
            split_doc = doc.split(" ")
            assert toks == split_doc[start : start + chunk]
    # "" splits to [""] — mirror that degenerate tokenization
    expect = doc.split(" ") if doc else [""]
    assert rebuilt == expect
