"""Unit tests for the training-data extension operators (ext/)."""

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_lit_double_array_keeps_signed_zero(spark):
    # each literal array carries its own values: -0.0 after 0.0 (equal
    # as floats) still evaluates to -0.0
    from sed_spark.ext import lit_double_array

    spark.range(1).select(lit_double_array([0.0]).alias("a")).collect()
    got = spark.range(1).select(lit_double_array([-0.0]).alias("a")).collect()
    assert np.copysign(1.0, got[0]["a"][0]) == -1.0


def test_winnow_fingerprint_matches_python_reference(spark):
    import hashlib

    from sed_spark.ext.text import winnow_fingerprint

    def py_winnow(s, k=8, w=4):
        hs = [
            hashlib.md5(s[i:i + k].encode()).hexdigest()
            for i in range(max(len(s) - k + 1, 0))
        ]
        if len(hs) - w + 1 > 0:
            sel = [min(hs[j:j + w]) for j in range(len(hs) - w + 1)]
        else:
            sel = hs
        sel = sorted(set(sel))
        return hashlib.md5("".join(sel).encode()).hexdigest(), len(sel)

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "short",   # shorter than k: zero k-grams
        "exactly8",  # exactly one k-gram (fewer hashes than one window)
        "",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["winnow_digest"], r["n_selected"])
        for r in winnow_fingerprint(df).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == py_winnow(t), f"doc {i}: {t!r}"


def test_winnow_shared_substring_guarantee(spark):
    # winnowing guarantee: a shared substring of length >= k + w - 1
    # yields overlapping selected hashes -> docs built around the same
    # long substring share selection content, so equal docs share digest
    from sed_spark.ext.text import winnow_fingerprint

    core = "a shared run of characters long enough to winnow"
    df = spark.createDataFrame(
        [(0, core), (1, core), (2, "completely different payload here")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r["winnow_digest"] for r in winnow_fingerprint(df).collect()}
    assert rows[0] == rows[1]
    assert rows[0] != rows[2]


def test_benchmark_contamination(spark):
    from sed_spark.ext.dedup import benchmark_contamination

    corpus = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "quick brown fox runs away from everything here"),
            (2, "completely unrelated text with no overlap at all"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "a quick brown fox story")], ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["n_hits"], r["is_contaminated"])
        for r in benchmark_contamination(corpus, bench, shingle_n=3).collect()
    }
    # shared 3-gram: "quick brown fox" appears in docs 0 and 1
    assert got[0] == (1, 1)
    assert got[1] == (1, 1)
    assert got[2] == (0, 0)


def test_benchmark_contamination_short_docs_get_rows(spark):
    from sed_spark.ext.dedup import benchmark_contamination

    corpus = spark.createDataFrame(
        [(0, "one two"), (1, "the quick brown fox here")],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame([(9, "quick brown fox")], ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_grams"], r["n_hits"], r["hit_frac"], r["is_contaminated"])
        for r in benchmark_contamination(corpus, bench, shingle_n=3).collect()
    }
    # doc 0 is shorter than one shingle: zero grams, clean, but PRESENT
    assert got[0] == (0, 0, 0.0, 0)
    assert got[1][1] >= 1 and got[1][3] == 1


def test_n_words_messy_whitespace(spark):
    # round-3 verdict: the length-arithmetic word count inflated on
    # consecutive/leading/trailing spaces and returned 1 for ""
    from sed_spark.ext import text

    docs = spark.createDataFrame(
        [
            (0, "a  b"), (1, " lead"), (2, "trail "), (3, ""),
            (4, "   "), (5, "one"), (6, "a b  c   d"),
        ],
        ["doc_id", "text"],
    )
    m = {r.doc_id: r for r in text.metrics(docs).collect()}
    assert [m[i].n_words for i in range(7)] == [2, 1, 1, 0, 0, 1, 4]
    # wordless docs get NULL ratios, not a divide-by-zero
    assert m[3].avg_word_len is None and m[4].stopword_ratio is None
    assert m[5].avg_word_len == 3.0
    q = {r.doc_id: r for r in text.quality_features(docs).collect()}
    assert [q[i].n_words for i in range(7)] == [2, 1, 1, 0, 0, 1, 4]
    t = {r.doc_id: r for r in text.token_stats(docs).collect()}
    assert [t[i].ws_tokens for i in range(7)] == [2, 1, 1, 0, 0, 1, 4]


def test_incremental_dedup_against_seen_corpus(spark):
    from sed_spark.ext.dedup import exact_dedup, incremental_dedup

    existing = spark.createDataFrame(
        [(0, "alpha"), (1, "beta")], ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            (10, "alpha"),   # already in the corpus -> dropped
            (11, "gamma"),   # fresh
            (12, "gamma"),   # within-batch duplicate -> one canonical
            (13, "delta"),   # fresh
        ],
        ["doc_id", "text"],
    )
    seen = exact_dedup(existing).select("text_hash")
    got = {
        r["keep_id"]: r["group_size"]
        for r in incremental_dedup(new, seen).collect()
    }
    assert got == {11: 2, 13: 1}
    # the surviving hashes ARE the delta for the next increment
    nxt = incremental_dedup(
        new, seen.unionAll(incremental_dedup(new, seen).select("text_hash")),
    )
    assert nxt.count() == 0


def test_pack_sequences_matches_python_reference(spark):
    # concat-and-chunk packing: pack/offset of each document's first
    # token must equal the single-stream prefix-sum reference, across
    # bucket seams (the two-phase distributed prefix sum is exact)
    from sed_spark.ext.text import pack_sequences

    rng = np.random.default_rng(5)
    toks = [int(t) for t in rng.integers(1, 900, size=300)]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(toks)], ["doc_id", "n_tok"],
    )
    got = {
        r["doc_id"]: (r["pack_id"], r["pack_offset"])
        for r in pack_sequences(
            df.repartition(7), "n_tok", budget=1024, n_buckets=13,
        ).collect()
    }
    start = 0
    for i, t in enumerate(toks):
        assert got[i] == (start // 1024, start % 1024), i
        start += t
    # offsets always inside the pack
    assert all(0 <= off < 1024 for _, off in got.values())


def test_pack_sequences_empty_and_validation(spark):
    import pytest

    from sed_spark.ext.text import pack_sequences

    df = spark.createDataFrame([], "doc_id bigint, n_tok int")
    out = pack_sequences(df, "n_tok", budget=64)
    assert out.count() == 0
    assert {"pack_id", "pack_offset"} <= set(out.columns)
    with pytest.raises(ValueError, match="budget"):
        pack_sequences(df, "n_tok", budget=0)


def test_verify_pairs_editdist_matches_python(spark):
    from sed_spark.ext.dedup import verify_pairs_editdist

    def lev(a, b):
        # classic Wagner-Fischer
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    texts = ["kitten", "sitting", "kitten!", "totally different words here"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"],
    )
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], ["a_id", "b_id"],
    )
    got = {(r["a_id"], r["b_id"]): r["edit_dist"]
           for r in verify_pairs_editdist(pairs, docs).collect()}
    assert got == {(0, i): lev(texts[0], texts[i]) for i in (1, 2, 3)}
    # banded variant: pairs above the bound are dropped (JVM early-exit)
    kept = {(r["a_id"], r["b_id"])
            for r in verify_pairs_editdist(pairs, docs, max_dist=3).collect()}
    assert kept == {(0, 1), (0, 2)}
    # keep_exceeded annotates instead of dropping: -1 sentinel past bound
    ann = {(r["a_id"], r["b_id"]): r["edit_dist"]
           for r in verify_pairs_editdist(
               pairs, docs, max_dist=3, keep_exceeded=True).collect()}
    assert ann[(0, 3)] == -1 and ann[(0, 1)] == 3


def test_normalize_text_expr(spark):
    from sed_spark.ext.dedup import normalize_text_expr

    rows = [
        (0, "Hello,   World!"),
        (1, "hello world"),
        (2, "  HELLO ... world  "),
        (3, "different"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["nt"]
           for r in df.select(
               "doc_id", normalize_text_expr(F.col("text")).alias("nt"),
           ).collect()}
    assert got[0] == got[1] == got[2] == "hello world"
    assert got[3] == "different"


def _np_classifier(texts, weights, bias=0.0):
    import hashlib
    import math

    out = []
    for t in texts:
        toks = [w for w in t.lower().split(" ") if w]
        if toks:
            mean_w = sum(
                weights[int(hashlib.md5(w.encode()).hexdigest()[:8], 16)
                        % len(weights)]
                for w in toks
            ) / len(toks)
        else:
            mean_w = 0.0
        out.append(round(1.0 / (1.0 + math.exp(-(bias + mean_w))), 6))
    return out


def test_classifier_score_matches_python(spark):
    from sed_spark.ext import text

    rows = [
        (0, "the quick brown fox"),
        (1, "THE QUICK brown  fox"),   # case/whitespace-normalized = same score
        (2, ""),                        # wordless -> sigmoid(bias)
        (3, "völlig unmöglich ascii-free tökens"),
        (4, "one"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    w = text.hashed_weights(64, seed=3)
    expect = _np_classifier([t for _, t in rows], w, bias=0.25)
    got = {
        r.doc_id: r.quality_score
        for r in text.classifier_score(docs, w, bias=0.25).collect()
    }
    assert [got[i] for i in range(5)] == expect
    assert got[0] == got[1]
    import math
    assert got[2] == round(1 / (1 + math.exp(-0.25)), 6)


def test_classifier_score_engines_agree(spark):
    from sed_spark.ext import text

    rng = np.random.default_rng(9)
    docs = spark.createDataFrame(
        [
            (i, " ".join(rng.choice(["alpha", "beta", "gamma", "delta",
                                     "x1", "y2"], size=rng.integers(0, 12))))
            for i in range(40)
        ],
        ["doc_id", "text"],
    )
    w = text.hashed_weights(32)
    lit = {r.doc_id: r.quality_score
           for r in text.classifier_score(docs, w, engine="literal").collect()}
    join = {r.doc_id: r.quality_score
            for r in text.classifier_score(docs, w, engine="join").collect()}
    assert lit == join
    with pytest.raises(ValueError, match="engine"):
        text.classifier_score(docs, w, engine="nope")


def test_strip_boilerplate_c4_line_dedup(spark):
    from sed_spark.ext import dedup

    docs = spark.createDataFrame(
        [
            (0, "unique zero\ncookie notice\nmore zero"),
            (1, "cookie notice\nunique one"),
            (2, "unique two\ncookie notice"),
            (3, "cookie notice"),            # fully boilerplate -> ""
            (4, "all mine\nstill mine"),
            (5, ""),                          # empty doc survives empty
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: r.text
        for r in dedup.strip_boilerplate(docs, min_docs=2).collect()
    }
    assert got == {
        0: "unique zero\nmore zero",
        1: "unique one",
        2: "unique two",
        3: "",
        4: "all mine\nstill mine",
        5: "",   # its single empty line is shared with doc 3's absence? no:
                 # "" appears only in doc 5 -> kept, and rejoins to ""
    }


def test_strip_boilerplate_preserves_line_order_and_duplicate_lines(spark):
    from sed_spark.ext import dedup

    # within-doc duplicate lines are NOT cross-document boilerplate;
    # order must be positional, not lexicographic
    docs = spark.createDataFrame(
        [(0, "b\na\nb\nzz"), (1, "zz\nother")],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: r.text
        for r in dedup.strip_boilerplate(docs, min_docs=2).collect()
    }
    assert got == {0: "b\na\nb", 1: "other"}


def test_boilerplate_stats_matches_python(spark):
    from sed_spark.ext import dedup

    texts = {
        0: "the quick brown fox jumps over dog",
        1: "the quick brown cat naps all day",
        2: "the quick brown fox jumps again now",
        3: "completely different words here only once",
        4: "x",   # shorter than one shingle -> zero grams
    }
    docs = spark.createDataFrame(
        list(texts.items()), ["doc_id", "text"],
    )
    n, min_docs = 3, 2
    gram_sets = {
        i: {
            " ".join(ws[j:j + n])
            for ws in [t.split()]
            for j in range(len(ws) - n + 1)
        }
        for i, t in texts.items()
    }
    from collections import Counter
    df_counts = Counter(g for s in gram_sets.values() for g in s)
    expect = {}
    for i, s in gram_sets.items():
        nb = sum(1 for g in s if df_counts[g] >= min_docs)
        expect[i] = (
            len(s), nb, round(nb / len(s), 6) if s else 0.0,
        )
    got = {
        r.doc_id: (r.n_grams, r.n_bp, r.bp_frac)
        for r in dedup.boilerplate_stats(
            docs, shingle_n=n, min_docs=min_docs,
        ).collect()
    }
    assert got == expect
    assert got[4] == (0, 0, 0.0)
    # "the quick brown" is in 3 docs -> boilerplate for all three
    assert all(got[i][1] >= 1 for i in (0, 1, 2))
    assert got[3][1] == 0


def test_duplicate_spans_interval_union(spark):
    from sed_spark.ext import dedup

    # docs 0 and 1 share the run "a b c d" (two overlapping 3-windows:
    # [0,3) and [1,4) -> one merged island covering 4 tokens) and the
    # disjoint window "x y z"; doc 2 shares nothing.
    docs = spark.createDataFrame(
        [
            (0, "a b c d q q q x y z"),
            (1, "p a b c d p p x y z"),
            (2, "m n o m n o m n o m"),  # self-repeats only: not cross-doc
            (3, "t u"),                   # shorter than the window
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: (
            r.n_tokens, r.n_windows, r.n_dup_windows,
            r.covered_tokens, r.dup_span_frac,
        )
        for r in dedup.duplicate_spans(docs, window=3, min_docs=2).collect()
    }
    # doc 0: dup windows at pos 0,1 ("a b c","b c d") and pos 7 ("x y z")
    #   islands [0,4) + [7,10) -> 7 covered tokens of 10
    assert got[0] == (10, 8, 3, 7, 0.7)
    # doc 1: dup windows at pos 1,2 and pos 7 -> [1,5) + [7,10) -> 7
    assert got[1] == (10, 8, 3, 7, 0.7)
    # doc 2: its windows repeat within the doc only -> distinct-doc df is 1
    assert got[2] == (10, 8, 0, 0, 0.0)
    # doc 3: no windows at all
    assert got[3] == (2, 0, 0, 0, 0.0)


def test_dsir_fit_and_score_match_python(spark):
    import hashlib
    import math

    from sed_spark.ext import text

    target_rows = [(0, "a b a b"), (1, "a b c")]
    raw_rows = [(0, "a b a b"), (1, "a b c"), (2, "c d e f"), (3, "f g")]
    dim = 16

    def grams(t):
        w = t.split(" ")
        return [f"{w[i]} {w[i+1]}" for i in range(len(w) - 1)]

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % dim

    def counts(rows):
        c = {}
        for _, t in rows:
            for g in grams(t):
                b = bucket(g)
                c[b] = c.get(b, 0) + 1
        return c

    ct, cr = counts(target_rows), counts(raw_rows)
    tot_t, tot_r = sum(ct.values()) + dim, sum(cr.values()) + dim
    expect_ratios = [
        math.log((ct.get(b, 0) + 1) / tot_t)
        - math.log((cr.get(b, 0) + 1) / tot_r)
        for b in range(dim)
    ]

    tgt = spark.createDataFrame(target_rows, ["doc_id", "text"])
    raw = spark.createDataFrame(raw_rows, ["doc_id", "text"])
    got_ratios = text.dsir_fit(tgt, raw, dim=dim)
    assert got_ratios == expect_ratios  # exact: integer counts + same log

    got = {
        r.doc_id: (r.n_feats, r.dsir_logweight)
        for r in text.dsir_score(raw, got_ratios).collect()
    }
    for i, t in raw_rows:
        gs = grams(t)
        acc = 0.0
        for g in gs:  # left-to-right fold, matching the aggregate HOF
            acc += expect_ratios[bucket(g)]
        assert got[i] == (len(gs), round(acc, 6))
    # target-like docs must outweigh off-target docs
    assert got[0][1] > got[2][1] and got[1][1] > got[3][1]


def test_chunk_documents_overlap_and_clamping(spark):
    from sed_spark.ext import text

    words20 = " ".join(f"w{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(0, words20), (1, "a b c"), (2, "solo")],
        ["doc_id", "text"],
    )
    rows = text.chunk_documents(
        docs, chunk_tokens=8, overlap=2,
    ).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for v in by_doc.values():
        v.sort(key=lambda r: r.chunk_idx)

    # doc 0: 20 tokens, stride 6 -> starts 0, 6, 12 -> 3 chunks
    w = words20.split(" ")
    assert [r.n_chunks for r in by_doc[0]] == [3, 3, 3]
    assert by_doc[0][0].chunk_text == " ".join(w[0:8])
    assert by_doc[0][1].chunk_text == " ".join(w[6:14])
    assert by_doc[0][2].chunk_text == " ".join(w[12:20])  # clamped to end
    assert by_doc[0][2].n_chunk_tokens == 8
    # consecutive chunks share exactly `overlap` tokens
    assert by_doc[0][0].chunk_text.split(" ")[-2:] == w[6:8]

    # short docs: one chunk, whole text
    assert len(by_doc[1]) == 1 and by_doc[1][0].chunk_text == "a b c"
    assert by_doc[1][0].n_chunk_tokens == 3
    assert len(by_doc[2]) == 1 and by_doc[2][0].chunk_text == "solo"

    import pytest as _pytest
    with _pytest.raises(ValueError, match="overlap"):
        text.chunk_documents(docs, chunk_tokens=8, overlap=8)
    with _pytest.raises(ValueError, match="chunk_tokens"):
        text.chunk_documents(docs, chunk_tokens=0)


def test_incremental_lsh_pairs_match_batch_restriction(spark):
    from sed_spark.ext import dedup

    # word-soup docs with planted near-dups across the even/odd boundary
    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (0, base),
            (1, base + " extra"),            # near-dup of 0 (new batch)
            (2, "completely different words here nothing shared at all"),
            (3, base + " tail"),             # near-dup of 0/1 (new batch)
            (4, "completely different words here nothing shared at all"),
            (5, "another unrelated document with its own vocabulary set"),
        ],
        ["doc_id", "text"],
    )
    sigs = dedup.minhash_signatures(docs, n_bands=4)
    batch = {
        (r.a_id, r.b_id)
        for r in dedup.lsh_candidate_pairs(sigs, n_bands=4).collect()
    }
    index = dedup.melt_bands(sigs.filter(F.col("doc_id") % 2 == 0), n_bands=4)
    inc = {
        (r.a_id, r.b_id)
        for r in dedup.incremental_lsh_pairs(
            sigs.filter(F.col("doc_id") % 2 == 1), index, n_bands=4,
        ).collect()
    }
    # incremental = batch pairs touching at least one odd (new) doc
    assert inc == {p for p in batch if p[0] % 2 == 1 or p[1] % 2 == 1}
    assert (0, 1) in inc and (1, 3) in inc     # cross and within-batch
    assert (2, 4) in batch and (2, 4) not in inc  # old-old pair excluded


def test_strip_duplicate_spans_removes_covered_tokens(spark):
    from sed_spark.ext import dedup

    docs = spark.createDataFrame(
        [
            (0, "a b c d q q q x y z"),
            (1, "p a b c d p p x y z"),
            (2, "m n o m n o m n o m"),
            (3, "t u"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: r.text
        for r in dedup.strip_duplicate_spans(
            docs, window=3, min_docs=2,
        ).collect()
    }
    # doc 0: islands [0,4) and [7,10) removed -> tokens 4..6 survive
    assert got[0] == "q q q"
    # doc 1: islands [1,5) and [7,10) removed -> tokens 0,5,6 survive
    assert got[1] == "p p p"
    # docs with no cross-document spans are untouched
    assert got[2] == "m n o m n o m n o m"
    assert got[3] == "t u"


def test_minhash_jaccard_estimate_counts_equal_bands(spark):
    from sed_spark.ext import dedup

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy dog"),  # identical
            (2, "a wholly different sentence with other words here"),
        ],
        ["doc_id", "text"],
    )
    sigs = dedup.minhash_signatures(docs, n_bands=4)
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2)], ["a_id", "b_id"],
    )
    got = {
        (r.a_id, r.b_id): r.jaccard_est
        for r in dedup.minhash_jaccard_estimate(pairs, sigs).collect()
    }
    assert got[(0, 1)] == 1.0   # identical docs: all 4 band sigs equal
    assert got[(0, 2)] == 0.0   # disjoint shingle sets: none equal


def test_html_to_text_extraction(spark):
    from sed_spark.ext import text

    rows = [
        (0, "<html><head><script>if (a < b) { x(); }</script>"
            "<style>p { margin: 0 }</style></head>"
            "<body><h1>Title</h1><p>Hello   world</p>"
            "<!-- secret --><div>bye</div></body></html>"),
        (1, "Tom &amp; Jerry &lt;3 &quot;quoted&#39; and&nbsp;spaced"),
        (2, "no markup at all"),
        (3, "<p>double escape: &amp;lt; stays literal</p>"),
        (4, "<P CLASS='x'>case</P><SCRIPT>drop()</SCRIPT>"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "html"])
    got = {r.doc_id: r.text
           for r in text.extract_html_text(df).collect()}
    assert got[0] == "Title Hello world bye"
    assert got[1] == 'Tom & Jerry <3 "quoted\' and spaced'
    assert got[2] == "no markup at all"
    # &amp;lt; -> &lt; literally (amp decoded LAST, no double decode)
    assert got[3] == "double escape: &lt; stays literal"
    # tag stripping and script removal are case-insensitive
    assert got[4] == "case"


# ---------------------------------------------------------------------------
# classifier_fit: distributed logistic regression
# ---------------------------------------------------------------------------

FIT_DOCS = [
    (0, "customer wants a table", 1),
    (1, "the customer pays", 1),
    (2, "fish swim fast", 0),
    (3, "", 0),
    (4, "spark joins tables", 0),
    (5, "good customer again", 1),
]


def _ref_classifier_fit(docs, dim, lr=2.0, n_iter=8, q=9):
    """Pure-Python transcription of the documented semantics."""
    import hashlib
    import math

    def bucket(w):
        return int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % dim

    m = len(docs)
    w, b = [0.0] * dim, 0.0
    for _ in range(n_iter):
        gw, gb = [0.0] * dim, 0.0
        for _, t, y in docs:
            tk = [x for x in t.lower().split() if x]
            z = b + (sum(w[bucket(x)] for x in tk) / len(tk) if tk else 0.0)
            r = 1.0 / (1.0 + math.exp(-z)) - y
            gb += r
            for x in tk:
                gw[bucket(x)] += r / len(tk)
        w = [round(wi - lr * g / m, q) for wi, g in zip(w, gw)]
        b = round(b - lr * gb / m, q)
    return w, b


def test_classifier_fit_matches_python_reference(spark):
    from sed_spark.ext import text

    dim = 16
    df = spark.createDataFrame(FIT_DOCS, ["doc_id", "text", "y"])
    got_w, got_b = text.classifier_fit(df, "y", dim=dim)
    ref_w, ref_b = _ref_classifier_fit(FIT_DOCS, dim)
    # quantized to 9 decimals each iteration; only sum-order ulps differ
    assert max(abs(a - c) for a, c in zip(got_w, ref_w)) < 1e-8
    assert abs(got_b - ref_b) < 1e-8


def test_classifier_fit_is_deterministic_and_learns(spark):
    from sed_spark.ext import text

    df = spark.createDataFrame(FIT_DOCS, ["doc_id", "text", "y"])
    w1, b1 = text.classifier_fit(df, "y", dim=16)
    w2, b2 = text.classifier_fit(df, "y", dim=16)
    assert (w1, b1) == (w2, b2)
    sc = {
        r["doc_id"]: r["quality_score"]
        for r in text.classifier_score(df, w1, bias=b1).collect()
    }
    pos = sum(sc[i] for i in (0, 1, 5)) / 3
    neg = sum(sc[i] for i in (2, 3, 4)) / 3
    assert pos > neg + 0.05


def test_classifier_fit_early_stop_and_errors(spark):
    import pytest

    from sed_spark.ext import text

    df = spark.createDataFrame(FIT_DOCS, ["doc_id", "text", "y"])
    # an absurdly large tol stops after one iteration == n_iter=1
    w_tol, b_tol = text.classifier_fit(df, "y", dim=16, tol=1e9)
    w_one, b_one = text.classifier_fit(df, "y", dim=16, n_iter=1)
    assert (w_tol, b_tol) == (w_one, b_one)
    with pytest.raises(ValueError, match="dim"):
        text.classifier_fit(df, "y", dim=0)
    with pytest.raises(ValueError, match="n_iter"):
        text.classifier_fit(df, "y", n_iter=0)
    with pytest.raises(ValueError, match="empty"):
        text.classifier_fit(df.filter("doc_id < 0"), "y")


# ---------------------------------------------------------------------------
# product quantization
# ---------------------------------------------------------------------------

def test_simhash_pairs_matches_brute_force(spark):
    import itertools
    import random

    from sed_spark.ext import dedup

    rng = random.Random(17)
    # clustered fingerprints: base patterns with few flipped bits
    bases = [rng.randrange(1 << 16) for _ in range(8)]
    fps = []
    for i in range(120):
        h = bases[i % 8]
        for _ in range(rng.randrange(0, 3)):
            h ^= 1 << rng.randrange(16)
        fps.append((i, h))
    df = spark.createDataFrame(fps, ["doc_id", "simhash"])
    for d in (1, 3, 5):
        got = sorted(
            (r["a_id"], r["b_id"], r["hamming"])
            for r in dedup.simhash_pairs(df, max_hamming=d).collect()
        )
        ref = sorted(
            (a, b, bin(ha ^ hb).count("1"))
            for (a, ha), (b, hb) in itertools.combinations(fps, 2)
            if bin(ha ^ hb).count("1") <= d
        )
        assert got == ref, f"d={d}"
        # every emitted pair appears exactly once (band dedup works)
        keys = [(a, b) for a, b, _ in got]
        assert len(keys) == len(set(keys))


def test_simhash_pairs_validation(spark):
    import pytest

    from sed_spark.ext import dedup

    df = spark.createDataFrame([(0, 1)], ["doc_id", "simhash"])
    with pytest.raises(ValueError, match="max_hamming"):
        dedup.simhash_pairs(df, max_hamming=16)


def test_prefix_similarity_join_exact_vs_brute_force(spark):
    # the prefix-filtered join is EXACT: against a brute-force pairwise
    # Jaccard over full distinct shingle sets it must return the same
    # pairs and values at every threshold, positional filter on or off
    import itertools
    import random

    from sed_spark.ext.dedup import prefix_similarity_join

    rng = random.Random(99)
    words = [f"w{i}" for i in range(10)]
    rows = []
    for i in range(50):
        rows.append((i, " ".join(rng.choice(words)
                                 for _ in range(rng.randint(1, 12)))))
    for i in range(50, 62):  # near-dups: one-word edits of earlier docs
        src = rows[rng.randrange(50)][1].split(" ")
        if len(src) > 3:
            src[rng.randrange(len(src))] = rng.choice(words)
        rows.append((i, " ".join(src)))

    def shingles(text, n=3):
        w = text.split(" ")
        return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}

    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for tau in (0.3, 0.7, 1.0):
        want = {}
        for (i, a), (j, b) in itertools.combinations(rows, 2):
            sa, sb = shingles(a), shingles(b)
            if not sa or not sb:
                continue
            c = len(sa & sb)
            u = len(sa | sb)
            if u and c / u >= tau:
                want[(i, j)] = (c, c / u)
        for positional in (True, False):
            got = {
                (r["a_id"], r["b_id"]): (r["n_common"], r["jaccard"])
                for r in prefix_similarity_join(
                    df, threshold=tau, positional=positional,
                ).collect()
            }
            assert set(got) == set(want), (tau, positional)
            for k, (c, j) in want.items():
                assert got[k][0] == c and abs(got[k][1] - j) < 1e-12, (tau, k)


def test_prefix_similarity_join_validation(spark):
    import pytest as pt

    from sed_spark.ext.dedup import prefix_similarity_join

    df = spark.createDataFrame([(0, "a b c")], ["doc_id", "text"])
    for bad in (0.0, -0.1, 1.5):
        with pt.raises(ValueError, match="threshold"):
            prefix_similarity_join(df, threshold=bad)


def test_pick_head_df_threshold_selection():
    from sed_spark.ext.dedup import _pick_head_df

    # greedy from the most frequent down; stops before the bucket that
    # overflows the budget
    assert _pick_head_df([(4, 100), (3, 3000), (2, 9_000_000),
                          (1, 5_000_000)], 1 << 17) == 3
    # everything with df >= 2 fits
    assert _pick_head_df([(5, 10), (2, 50), (1, 1000)], 100) == 2
    # head bucket alone overflows -> no head, pure token order
    assert _pick_head_df([(2, 10**9), (1, 10)], 1 << 17) is None
    # nothing repeats
    assert _pick_head_df([(1, 42)], 1 << 17) is None
    assert _pick_head_df([], 1 << 17) is None
    # unsorted input is handled (the operator feeds raw collect rows)
    assert _pick_head_df([(1, 9), (3, 5), (2, 7)], 100) == 2


def test_prefix_similarity_join_set_col_mode(spark):
    # set_col names a precomputed array column (URL sets, feature bags):
    # Jaccard is exact over the distinct elements, brute-force checked
    import itertools
    import random

    from sed_spark.ext.dedup import prefix_similarity_join

    rng = random.Random(11)
    universe = [f"t{i}" for i in range(30)]
    rows = []
    for i in range(40):
        k = rng.randint(0, 8)
        rows.append((i, rng.sample(universe, k)))
    rows.append((40, None))  # NULL set pairs with nothing
    df = spark.createDataFrame(rows, "doc_id int, tags array<string>")
    for tau in (0.4, 0.8):
        want = {}
        for (i, a), (j, b) in itertools.combinations(rows[:40], 2):
            sa, sb = set(a), set(b)
            if not sa or not sb:
                continue
            c, u = len(sa & sb), len(sa | sb)
            if u and c / u >= tau:
                want[(i, j)] = c
        got = {
            (r["a_id"], r["b_id"]): r["n_common"]
            for r in prefix_similarity_join(
                df, set_col="tags", threshold=tau,
            ).collect()
        }
        assert got == want, tau


def test_shared_grams_and_islands_row_identical(spark):
    """The r11 sharing hooks must not change any row: passing a
    precomputed (checkpointed) gram table to benchmark_contamination /
    boilerplate_stats, or a precomputed span_islands pair to
    duplicate_spans / strip_duplicate_spans, is plan reuse only."""
    from sed_spark.ext import dedup

    corpus = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog the quick brown fox"),
            (1, "quick brown fox runs away from everything here yes indeed today"),
            (2, "completely unrelated text with no overlap at all whatsoever done"),
            (3, ""),
            (4, "the quick brown fox jumps over the lazy dog again and again"),
        ],
        ["doc_id", "text"],
    )
    bench = corpus.filter("doc_id % 2 = 0")

    grams = dedup.exploded_shingles(
        corpus, n=3, distinct=True,
    ).localCheckpoint(eager=True)
    base_cont = dedup.benchmark_contamination(corpus, bench, shingle_n=3)
    shared_cont = dedup.benchmark_contamination(
        corpus, bench, shingle_n=3, grams=grams,
    )
    key = lambda rows: sorted(tuple(r) for r in rows)  # noqa: E731
    assert key(base_cont.collect()) == key(shared_cont.collect())

    base_bp = dedup.boilerplate_stats(corpus, shingle_n=3, min_docs=2)
    shared_bp = dedup.boilerplate_stats(
        corpus, shingle_n=3, min_docs=2, grams=grams,
    )
    assert key(base_bp.collect()) == key(shared_bp.collect())

    words, dup_pos = dedup.span_islands(corpus, window=3, min_docs=2)
    islands = (words, dup_pos.localCheckpoint(eager=True))
    for fn in (dedup.duplicate_spans, dedup.strip_duplicate_spans):
        base = fn(corpus, window=3, min_docs=2)
        shared = fn(corpus, window=3, min_docs=2, islands=islands)
        assert key(base.collect()) == key(shared.collect()), fn.__name__


def test_shared_words_and_bigrams_row_identical(spark):
    """The sharing hooks must not change any row: passing a precomputed
    word explode (``words=``) and bigram explode (``grams=``) to
    collocations is plan reuse only."""
    from pyspark.sql import functions as F

    from sed_spark.ext import text
    from sed_spark.ext.dedup import exploded_shingles

    corpus = spark.createDataFrame(
        [
            (0, "aa bb aa cc dd aa bb"),
            (1, "bb cc bb cc bb cc dd"),
            (2, "zz yy xx ww vv uu tt ss"),
            (3, ""),
            (4, "aa bb aa bb aa bb aa bb"),
            (5, "single"),
        ],
        ["doc_id", "text"],
    )
    wx = corpus.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word"),
    )
    g2 = exploded_shingles(corpus, n=2)
    key = lambda rows: sorted(tuple(r) for r in rows)  # noqa: E731

    assert key(text.collocations(corpus, min_count=2).collect()) == key(
        text.collocations(corpus, min_count=2, words=wx, grams=g2).collect(),
    )
