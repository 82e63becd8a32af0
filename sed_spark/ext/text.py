"""Text analysis operators: quality scoring, language id, token counting,
document fingerprinting. All pure Column expressions."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sed_spark.ext import lit_double_array
from sed_spark.ext.dedup import exploded_shingles, shingles_from_words

__all__ = [
    "n_words_expr",
    "quality_features",
    "hashed_weights",
    "classifier_feature_expr",
    "classifier_fit",
    "classifier_score",
    "html_to_text_expr",
    "extract_html_text",
    "chunk_documents",
    "collocations",
    "dsir_fit",
    "dsir_score",
    "lang_id",
    "token_stats",
    "metrics",
    "fingerprint",
    "repetition_stats",
    "pack_sequences",
    "quality_gate",
    "gate_stats",
]

#: language-marker WORD LISTS for the n-gram language-id heuristic —
#: the single source of truth both the per-language patterns and the
#: combined alternation (_ALL_MARKERS) derive from, so an edit here can
#: never diverge the one-pass extraction from the per-language counts
LANG_MARKER_WORDS = {
    "en": ("the", "a", "is", "and", "of"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "les", "et", "est", "une"),
    "es": ("el", "los", "las", "y", "es"),
}

#: per-language whole-word alternation patterns (derived)
LANG_MARKERS = {
    lang: r"\b(" + "|".join(words) + r")\b"
    for lang, words in LANG_MARKER_WORDS.items()
}


def n_words_expr(text: Column) -> Column:
    """Whitespace token count: the number of non-empty runs between
    spaces — ``regexp_count('[^ ]+')``. Robust to consecutive / leading
    / trailing spaces and the empty string (0 words). Same multiset as
    splitting on ``' +'`` and dropping empties, but a single counting
    scan instead of an array allocation plus an interpreted
    higher-order filter (HOF lambdas don't codegen; the round-5 profile
    put the split form at ~1.15x the count form and it allocates). The
    DuckDB oracle mirrors it with
    ``list_filter(string_split_regex(...))`` — identical counts."""
    return F.regexp_count(text, F.lit(r"[^ ]+"))


#: all marker words of all languages as one alternation — each regex
#: match is a maximal ``\\w`` run equal to exactly ONE marker string
#: (all 20 are distinct, and ``\\b..\\b`` can only match a complete
#: word), so ONE extraction pass partitions exactly into the four
#: per-language counts that four full-text scans would produce.
#: Derived from the same LANG_MARKER_WORDS the per-language patterns
#: come from, never by re-parsing the pattern strings.
_ALL_MARKERS = r"\b(" + "|".join(
    w for words in LANG_MARKER_WORDS.values() for w in words
) + r")\b"

# the one-pass partition is exact only if every marker is a plain word
# (no regex metacharacters) and no word appears under two languages —
# fail loudly at import if an edit breaks either invariant (explicit
# raise, not assert: python -O must not strip the guard)
if not all(w.isalpha() for ws in LANG_MARKER_WORDS.values() for w in ws):
    raise ValueError("LANG_MARKER_WORDS entries must be plain alphabetic words")
if len({w for ws in LANG_MARKER_WORDS.values() for w in ws}) != sum(
    len(ws) for ws in LANG_MARKER_WORDS.values()
):
    raise ValueError(
        "LANG_MARKER_WORDS must be globally distinct across languages",
    )

_AZ = "abcdefghijklmnopqrstuvwxyz"
_DIGITS = "0123456789"


def bpe_token_count_expr(text: Column) -> Column:
    """BPE-ish token count: matches of ``[a-z]+|[0-9]|[^a-z0-9 ]``,
    decomposed into ``(# maximal [a-z] runs) + (# digit chars) +
    (# chars outside [a-z0-9 ])`` — the alternation consumes either a
    whole lowercase run, one digit, or one other char, so the three
    terms partition its match set exactly. The run count is a
    single-class regex scan and the two char counts are ``translate``
    length arithmetic (pure char-map, no backtracking): measured 2.4-4x
    faster than counting the 3-way alternation at 1e6/1e7 docs, and the
    negated-class count alone (``[^a-z0-9 ]``) was pathological in the
    JVM regex engine (~5x the whole alternation)."""
    az_runs = F.regexp_count(text, F.lit(r"[a-z]+"))
    n_digits = F.length(text) - F.length(F.translate(text, _DIGITS, ""))
    n_other = F.length(F.translate(text, _AZ + _DIGITS + " ", ""))
    return az_runs + n_digits + n_other


def quality_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """Length / word / stopword quality signals per document."""
    t = F.col(text_col)
    nw = n_words_expr(t)
    nonspace = F.length(F.replace(t, F.lit(" "), F.lit("")))
    stop = F.regexp_count(t, F.lit(LANG_MARKERS["en"]))
    # wordless documents (empty / all-space text) get NULL ratios, not a
    # divide-by-zero — explicit CASE so Spark-ANSI and DuckDB agree
    return df.select(
        F.col(id_col),
        F.length(t).alias("n_chars"),
        nw.alias("n_words"),
        F.when(nw > 0, F.round(nonspace.cast("double") / nw, 6))
        .alias("avg_word_len"),
        F.when(nw > 0, F.round(stop.cast("double") / nw, 6))
        .alias("stopword_ratio"),
    )


def lang_id(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """Marker-word language id with a deterministic arg-max tie-break
    (en > de > fr > es)."""
    t = F.col(text_col)
    # one combined extraction pass over the text; the per-language
    # counts then run on the tiny all-markers string (see _ALL_MARKERS
    # for why the partition is exact)
    mk = F.concat_ws(" ", F.regexp_extract_all(t, F.lit(_ALL_MARKERS), 1))
    scores = {
        lang: F.regexp_count(mk, F.lit(pat))
        for lang, pat in LANG_MARKERS.items()
    }
    s = {k: F.col(f"s_{k}") for k in scores}
    pred = (
        F.when(
            (s["en"] >= s["de"]) & (s["en"] >= s["fr"]) & (s["en"] >= s["es"]), "en",
        )
        .when((s["de"] >= s["fr"]) & (s["de"] >= s["es"]), "de")
        .when(s["fr"] >= s["es"], "fr")
        .otherwise("es")
    )
    out = df.select(
        F.col(id_col),
        *[c.alias(f"s_{lang}") for lang, c in scores.items()],
    )
    return out.select(F.col(id_col), pred.alias("pred_lang"))


def token_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """Whitespace token count + BPE-ish regex token count."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        n_words_expr(t).alias("ws_tokens"),
        bpe_token_count_expr(t).alias("bpe_tokens"),
    )


def metrics(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """Every scalar text-analysis signal (quality features + language id +
    token counts) in ONE two-stage projection — each operator's output
    columns with their standalone names, one pass over the text.

    At scale this is the shape a real corpus scan takes: one projection
    over the documents table computing all per-document signals, instead
    of three scans joined back together. The standalone operators
    (:func:`quality_features`, :func:`lang_id`, :func:`token_stats`)
    remain the public API; this is their fused form.
    """
    t = F.col(text_col)
    # stage 1 makes ONE pass per distinct scan of the text: a combined
    # marker extraction (its tiny result string feeds all four language
    # counts in stage 2), the decomposed BPE count, and the word/char
    # counters — round-5's form ran four marker scans plus the 3-way
    # alternation BPE scan and measured 0.16 M rows/s; this shape
    # measures >2x that at 1e6 and 1e7 docs (SCALING.md).
    mk = F.concat_ws(" ", F.regexp_extract_all(t, F.lit(_ALL_MARKERS), 1))
    base = df.select(
        F.col(id_col),
        F.length(t).alias("n_chars"),
        n_words_expr(t).alias("n_words"),
        F.length(F.replace(t, F.lit(" "), F.lit(""))).alias("__nonspace"),
        mk.alias("__mk"),
        bpe_token_count_expr(t).alias("bpe_tokens"),
    )
    base = base.select(
        "*",
        *[
            F.regexp_count(F.col("__mk"), F.lit(pat)).alias(f"s_{lang}")
            for lang, pat in LANG_MARKERS.items()
        ],
    )
    s = {k: F.col(f"s_{k}") for k in LANG_MARKERS}
    pred = (
        F.when(
            (s["en"] >= s["de"]) & (s["en"] >= s["fr"]) & (s["en"] >= s["es"]), "en",
        )
        .when((s["de"] >= s["fr"]) & (s["de"] >= s["es"]), "de")
        .when(s["fr"] >= s["es"], "fr")
        .otherwise("es")
    )
    nw = F.col("n_words")
    return base.select(
        F.col(id_col),
        "n_chars",
        "n_words",
        F.when(nw > 0, F.round(F.col("__nonspace").cast("double") / nw, 6))
        .alias("avg_word_len"),
        F.when(nw > 0, F.round(s["en"].cast("double") / nw, 6))
        .alias("stopword_ratio"),
        pred.alias("pred_lang"),
        nw.alias("ws_tokens"),
        "bpe_tokens",
    )


def hashed_weights(dim: int, seed: int = 0) -> list[float]:
    """Deterministic placeholder weight vector in [-1, 1) for
    :func:`classifier_score` — Knuth multiplicative hashing of the
    feature index. A production deployment replaces this with the
    weights of a trained model (e.g. a CCNet/GPT-3-style fastText
    quality classifier); the scoring plumbing is identical."""
    return [
        (((i + seed) * 2654435761) % 4294967296) / 4294967296 * 2 - 1
        for i in range(dim)
    ]


def classifier_feature_expr(word: Column, dim: int) -> Column:
    """Hashing-trick feature index of one token: the first 8 hex digits
    of ``md5(word)`` as an integer, mod ``dim`` (0-based). Both engines
    compute it bit-identically (DuckDB: ``('0x' || substr(md5(w), 1,
    8))::UBIGINT % dim``)."""
    return (
        F.conv(F.substring(F.md5(word), 1, 8), 16, 10).cast("long")
        % F.lit(dim)
    )


def classifier_score(
    df: DataFrame,
    weights: Sequence[float],
    bias: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    engine: str = "literal",
    round_decimals: int = 6,
) -> DataFrame:
    """fastText-style linear classifier scoring over hashed bag-of-words
    features (Joulin et al., "Bag of Tricks for Efficient Text
    Classification", EACL 2017) — the model-based document-quality
    scorer of CCNet/GPT-3-style curation pipelines, as opposed to the
    heuristic signals of :func:`quality_features`.

    ``score = sigmoid(bias + mean over tokens of weights[h(token)])``
    with ``h`` = :func:`classifier_feature_expr` (hashing trick, no
    vocabulary table). Tokens are the lowercased non-empty whitespace
    runs. Wordless documents score ``sigmoid(bias)``. Returns
    ``(id_col, quality_score)``.

    Two physical strategies, identical results:

    * ``engine="literal"`` — the weight vector rides in the expression
      tree; scoring is a pure projection, zero shuffle. Right for the
      ~2^8–2^15 buckets of a distilled/quantized scorer.
    * ``engine="join"`` — tokens are exploded and hash-joined against a
      ``(feature, weight)`` table that Spark broadcasts, then mean-pooled
      per document (map-side partial aggregation). Right when the model
      is too wide to inline (fastText defaults to 2M buckets): the
      weight table stays a dimension-sized broadcast instead of a
      megabyte-scale literal replicated into every task's plan.
    """
    dim = len(weights)
    t = F.col(text_col)
    toks = F.filter(F.split(F.lower(t), " +"), lambda x: x != F.lit(""))
    sigmoid = lambda z: F.round(  # noqa: E731
        F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), round_decimals,
    )
    if engine == "literal":
        wlit = lit_double_array(weights)
        # element_at is 1-based; NULL-safe because h(token) < dim always
        total = F.aggregate(
            toks,
            F.lit(0.0),
            lambda acc, w: acc
            + F.element_at(wlit, (classifier_feature_expr(w, dim) + 1).cast("int")),
        )
        n = F.size(toks)
        z = F.lit(float(bias)) + F.when(n > 0, total / n).otherwise(F.lit(0.0))
        return df.select(F.col(id_col), sigmoid(z).alias("quality_score"))
    if engine == "join":
        spark = df.sparkSession
        wdf = spark.createDataFrame(
            [(i, float(w)) for i, w in enumerate(weights)],
            "feature long, weight double",
        )
        feats = df.select(
            F.col(id_col), F.explode(toks).alias("__tok"),
        ).select(
            F.col(id_col),
            classifier_feature_expr(F.col("__tok"), dim).alias("feature"),
        )
        pooled = (
            feats.join(F.broadcast(wdf), "feature")
            .groupBy(id_col)
            .agg(F.avg("weight").alias("__mean_w"))
        )
        z = F.lit(float(bias)) + F.coalesce(F.col("__mean_w"), F.lit(0.0))
        return (
            df.select(id_col)
            .join(pooled, id_col, "left")
            .select(F.col(id_col), sigmoid(z).alias("quality_score"))
        )
    raise ValueError(f"unknown engine {engine!r}")


def classifier_fit(
    df: DataFrame,
    label_col: str,
    dim: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    lr: float = 2.0,
    n_iter: int = 8,
    tol: float = 0.0,
    quantize_decimals: int | None = 9,
) -> tuple[list[float], float]:
    """Train the :func:`classifier_score` model: full-batch logistic
    regression over the same hashed mean-pooled bag-of-words features
    (so the fit plugs straight back into either scoring engine).

    Each iteration is ONE distributed aggregation: the per-token
    gradient contribution ``(p_i - y_i) / n_i`` flows into its hash
    bucket, and a per-document ``bucket = -1`` row carries the bias
    gradient (wordless documents appear only there — their feature
    vector is zero), so the whole gradient is a single ``dim+1``-row
    hash aggregate per pass, never a second corpus scan. The weight
    vector is driver-sized by definition (the hashing trick caps it at
    ``dim``).

    ``quantize_decimals`` rounds the updated weights every iteration
    (default 9): gradient sums merge partial aggregates in
    shuffle-arrival order, so their last ulps are not run-stable;
    quantizing makes the fit a reproducible pure function of the data:
    repeated fits on the same rows return the same ``(weights, bias)``.

    ``tol`` > 0 stops early when the largest parameter step falls below
    it. Returns ``(weights, bias)``.
    """
    if dim < 1:
        raise ValueError("dim must be >= 1")
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    t = F.col(text_col)
    toks = F.filter(F.split(F.lower(t), " +"), lambda x: x != F.lit(""))
    y = F.col(label_col).cast("double")
    m = df.count()
    if m == 0:
        raise ValueError("cannot fit on an empty DataFrame")
    weights = [0.0] * dim
    bias = 0.0
    for _ in range(n_iter):
        wlit = lit_double_array(weights)
        total = F.aggregate(
            toks,
            F.lit(0.0),
            lambda acc, w: acc
            + F.element_at(
                wlit, (classifier_feature_expr(w, dim) + 1).cast("int"),
            ),
        )
        n = F.size(toks)
        z = F.lit(bias) + F.when(n > 0, total / n).otherwise(F.lit(0.0))
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        base = df.select(toks.alias("__toks"), (p - y).alias("__r"))
        tok_rows = base.select(
            F.explode("__toks").alias("__tok"),
            (F.col("__r") / F.size("__toks")).alias("__v"),
        ).select(
            classifier_feature_expr(F.col("__tok"), dim)
            .cast("int").alias("__bkt"),
            "__v",
        )
        bias_rows = base.select(
            F.lit(-1).alias("__bkt"), F.col("__r").alias("__v"),
        )
        grads = {
            r["__bkt"]: r["__g"]
            for r in tok_rows.unionByName(bias_rows)
            .groupBy("__bkt")
            .agg(F.sum("__v").alias("__g"))
            .collect()
        }
        step = 0.0
        new_w = list(weights)
        for d in range(dim):
            delta = lr * grads.get(d, 0.0) / m
            new_w[d] = weights[d] - delta
            step = max(step, abs(delta))
        delta_b = lr * grads.get(-1, 0.0) / m
        new_b = bias - delta_b
        step = max(step, abs(delta_b))
        if quantize_decimals is not None:
            new_w = [round(w, quantize_decimals) for w in new_w]
            new_b = round(new_b, quantize_decimals)
        weights, bias = new_w, new_b
        if tol > 0 and step < tol:
            break
    return weights, bias


#: HTML entities decoded by html_to_text_expr (the named set whose
#: Java/RE2 replacement semantics are identical; numeric character
#: references are out of scope and documented as such)
HTML_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),  # LAST, so "&amp;lt;" decodes to the literal "&lt;"
]


def html_to_text_expr(html: Column) -> Column:
    """Plain text from an HTML column — the first preprocessing step of
    every web-corpus pipeline (C4/CCNet run a text extractor before any
    quality or dedup stage). Expression-only regex stages with identical
    Java/RE2 semantics (no lookaround, lazy quantifiers only):

    1. drop ``<script>``/``<style>`` elements WITH their contents
       (``(?is)`` dot-matches-newline, case-insensitive),
    2. drop HTML comments,
    3. every remaining tag becomes a space (block boundaries must not
       glue words together),
    4. decode the named entities in :data:`HTML_ENTITIES` — ``&amp;``
       last so double-escaped entities stay literal,
    5. collapse whitespace runs and trim.

    A deliberate regex extractor, not an HTML parser: at 100 TB the
    extractor must be a projection; malformed markup degrades to extra
    whitespace rather than failures. Numeric character references and
    full entity tables are a lookup-table pass away and out of scope.
    """
    out = F.regexp_replace(html, r"(?is)<script[^>]*>.*?</script>", " ")
    out = F.regexp_replace(out, r"(?is)<style[^>]*>.*?</style>", " ")
    out = F.regexp_replace(out, r"(?s)<!--.*?-->", " ")
    out = F.regexp_replace(out, r"<[^>]+>", " ")
    for ent, ch in HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    out = F.regexp_replace(out, r"\s+", " ")
    return F.trim(out)


def extract_html_text(
    df: DataFrame,
    id_col: str = "doc_id",
    html_col: str = "html",
    text_col: str = "text",
) -> DataFrame:
    """DataFrame form of :func:`html_to_text_expr`:
    ``(id_col, text_col)`` — one projection, zero shuffle."""
    return df.select(
        F.col(id_col), html_to_text_expr(F.col(html_col)).alias(text_col),
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Overlapping fixed-size document chunking — the retrieval/embedding
    prep step (RAG pipelines embed chunks, not documents): windows of
    ``chunk_tokens`` whitespace tokens starting every
    ``chunk_tokens - overlap`` tokens, the last window clamped at the
    document end. Returns one row per chunk:
    ``(id_col, chunk_idx, n_chunks, chunk_text, n_chunk_tokens)``.

    Pure expressions — tokenize, per-row ``transform`` over the chunk
    starts, one ``posexplode``. No shuffle: chunking is row-local, and
    the output inherits the input partitioning (chunks of one document
    stay in one partition for downstream embedding batches).
    """
    if chunk_tokens <= 0:
        raise ValueError(f"chunk_tokens must be positive, got {chunk_tokens}")
    if not (0 <= overlap < chunk_tokens):
        raise ValueError(
            f"overlap must be in [0, chunk_tokens), got {overlap}",
        )
    from sed_spark.ext import scale_out

    stride = chunk_tokens - overlap
    words = scale_out(df).select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__words"),
    )
    n = F.size("__words")
    # one chunk when n <= chunk_tokens, else enough strides to cover n
    n_chunks = F.when(
        n <= chunk_tokens, F.lit(1),
    ).otherwise(
        F.lit(1)
        + F.ceil((n - chunk_tokens) / F.lit(float(stride))).cast("int"),
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - F.lit(1)),
        lambda i: F.slice(F.col("__words"), i * stride + 1, chunk_tokens),
    )
    return words.select(
        F.col(id_col),
        n_chunks.alias("n_chunks"),
        F.posexplode(chunks).alias("chunk_idx", "__chunk"),
    ).select(
        F.col(id_col),
        "chunk_idx",
        "n_chunks",
        F.array_join("__chunk", " ").alias("chunk_text"),
        F.size("__chunk").alias("n_chunk_tokens"),
    )


def dsir_fit(
    target: DataFrame,
    raw: DataFrame,
    dim: int = 128,
    shingle_n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> list[float]:
    """DSIR importance-resampling fit (Xie et al., "Data Selection for
    Language Models via Importance Resampling", NeurIPS 2023): hashed
    word n-gram bag-of-features, add-1-smoothed categorical models of
    the TARGET (the distribution you want more of — e.g. an eval set or
    high-quality seed corpus) and the RAW pool. Returns
    ``log(p_target[b] / p_raw[b])`` per feature bucket as plain Python
    floats — dimension-sized by contract (the paper uses 10⁴ buckets),
    never corpus-sized.

    Scale design: one explode + hash-bucket projection and one B-sized
    count aggregate per distribution (map-side partial counts collapse
    each bucket to one partial per task before the shuffle). The corpus
    itself is never collected; only the two B-sized count tables reach
    the driver, where the smoothing and the log happen once in Python so
    the ratios are literal constants downstream.
    """
    import math

    def bucket_counts(df: DataFrame) -> dict[int, int]:
        grams = exploded_shingles(df, id_col, text_col, shingle_n)
        rows = (
            grams.select(
                classifier_feature_expr(F.col("g"), dim).alias("b"),
            )
            .groupBy("b")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        )
        return {int(r.b): int(r.c) for r in rows}

    ct, cr = bucket_counts(target), bucket_counts(raw)
    tot_t = sum(ct.values()) + dim
    tot_r = sum(cr.values()) + dim
    return [
        math.log((ct.get(b, 0) + 1) / tot_t)
        - math.log((cr.get(b, 0) + 1) / tot_r)
        for b in range(dim)
    ]


def dsir_score(
    df: DataFrame,
    logratios: Sequence[float],
    shingle_n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_decimals: int = 6,
) -> DataFrame:
    """Apply a :func:`dsir_fit` to a corpus: per-document importance
    log-weight ``Σ_f log(p_target[h(f)] / p_raw[h(f)])`` over the
    document's word ``shingle_n``-grams. Downstream, Gumbel-top-k over
    these weights is the paper's importance resample — combine with
    :func:`sed_spark.ext.corpus.rate_sample` for the deterministic
    variant.

    Pure projection, zero shuffle: the log-ratio vector rides in the
    expression tree (literal array), each document folds its in-order
    gram list through an ``aggregate`` HOF — the summation order is the
    document's token order, so any engine mirroring these constants
    reproduces the double bit-for-bit before the final rounding.
    Returns ``(id_col, n_feats, dsir_logweight)``.
    """
    from sed_spark.ext import scale_out

    dim = len(logratios)
    lit = lit_double_array(logratios)
    words = scale_out(df).select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__words"),
    )
    grams = shingles_from_words(F.col("__words"), shingle_n)
    total = F.aggregate(
        grams,
        F.lit(0.0),
        lambda acc, g: acc
        + F.element_at(
            lit, (classifier_feature_expr(g, dim) + 1).cast("int"),
        ),
    )
    return words.select(
        F.col(id_col),
        F.size(grams).alias("n_feats"),
        F.round(total, round_decimals).alias("dsir_logweight"),
    )


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_n: int = 2,
) -> DataFrame:
    """Gopher-style repetition filters (Rae et al., "Scaling Language
    Models: Methods, Analysis & Insights from Training Gopher", 2021,
    §A1.1): per document, the duplicate-word fraction and the fraction of
    characters covered by the single most frequent word n-gram. Documents
    dominated by repeated boilerplate score high and get filtered before
    training.

    Scale design: everything is keyed by the document — explode →
    groupBy(doc, gram) → per-doc window max — so the work is two hash
    aggregates and one window, each shuffling on (a superset of) the
    document key, never a cross-document join. The deterministic
    tie-break for the top n-gram is (count DESC, gram ASC).

    Output: ``n_words``, ``n_distinct_words``, ``dup_word_frac``
    (= 1 − distinct/total, rounded 6), ``top_ngram``,
    ``top_ngram_count``, ``top_ngram_char_frac``
    (= count · len(gram) / len(text), rounded 6).
    """
    from pyspark.sql import Window

    from sed_spark.ext import scale_out

    base = scale_out(df).select(
        F.col(id_col),
        F.length(F.col(text_col)).alias("__nc"),
        F.split(F.col(text_col), " ").alias("__words"),
    )
    words = base.select(
        F.col(id_col), "__nc", F.explode("__words").alias("w"),
    )
    wc = words.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_words"),
        F.count_distinct(F.col("w")).alias("n_distinct_words"),
    )
    grams = base.select(
        F.col(id_col),
        "__nc",
        F.explode(shingles_from_words(F.col("__words"), ngram_n)).alias("g"),
    )
    gcnt = grams.groupBy(id_col, "__nc", "g").agg(
        F.count(F.lit(1)).alias("cnt"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("cnt").desc(), F.col("g").asc(),
    )
    top = (
        gcnt.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col(id_col),
            F.col("g").alias("top_ngram"),
            F.col("cnt").alias("top_ngram_count"),
            F.round(
                F.col("cnt") * F.length("g") / F.col("__nc").cast("double"), 6,
            ).alias("top_ngram_char_frac"),
        )
    )
    return (
        wc.join(top, id_col, "left")
        .select(
            F.col(id_col),
            "n_words",
            "n_distinct_words",
            F.round(
                1.0 - F.col("n_distinct_words") / F.col("n_words").cast("double"),
                6,
            ).alias("dup_word_frac"),
            F.coalesce("top_ngram", F.lit("")).alias("top_ngram"),
            F.coalesce("top_ngram_count", F.lit(0)).alias("top_ngram_count"),
            F.coalesce("top_ngram_char_frac", F.lit(0.0)).alias(
                "top_ngram_char_frac",
            ),
        )
    )


def winnow_fingerprint(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Winnowing fingerprint (Schleimer, Wilkerson, Aiken, "Winnowing:
    Local Algorithms for Document Fingerprinting", SIGMOD 2003).

    Character k-gram hashes; from every window of ``w`` consecutive
    hashes, the minimum is selected — the winnowing guarantee is that any
    shared substring of length ≥ k + w - 1 contributes at least one
    shared selected hash, which makes the selected set robust to
    insertions/reordering in a way one global min (``fingerprint``) is
    not. Output: a digest of the sorted distinct selected hashes plus
    their count.

    All pure Column expressions, with the k-gram hash array materialized
    in its own projection (same CSE discipline as :func:`fingerprint` —
    window mins reference the array w times)."""
    from sed_spark.ext import scale_out

    t = F.col(text_col)
    n_grams = F.greatest(F.length(t) - (k - 1), F.lit(0))
    hashes = scale_out(df).select(
        F.col(id_col),
        F.when(
            n_grams > 0,
            F.transform(
                F.sequence(F.lit(1), n_grams),
                lambda i: F.md5(t.substr(i, F.lit(k))),
            ),
        ).otherwise(F.expr("CAST(array() AS array<string>)")).alias("__hs"),
    )
    hs = F.col("__hs")
    n_win = F.size(hs) - (w - 1)
    selected = F.when(
        n_win > 0,
        F.transform(
            F.sequence(F.lit(1), n_win),
            lambda j: F.array_min(F.slice(hs, j, w)),
        ),
    ).otherwise(hs)  # shorter than one window: keep all k-gram hashes
    sel = F.array_sort(F.array_distinct(selected))
    return hashes.select(
        F.col(id_col),
        F.md5(F.concat_ws("", sel)).alias("winnow_digest"),
        F.size(sel).alias("n_selected"),
    )


def fingerprint(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 5,
) -> DataFrame:
    """Document fingerprint: lexicographic-min md5 over distinct word
    5-shingles (a 1-permutation MinHash) + distinct-shingle count.

    ``__words`` and ``__grams`` are materialized in stacked projections so
    neither the split nor the gram transform is re-evaluated per reference
    (CollapseProject keeps multi-referenced expensive aliases un-inlined,
    SPARK-36718); inlining them was a measured 25x slowdown."""
    from sed_spark.ext import scale_out

    words = scale_out(df).select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__words"),
    )
    grams = words.select(
        F.col(id_col),
        F.array_distinct(
            shingles_from_words(F.col("__words"), shingle_n),
        ).alias("__grams"),
    )
    return grams.select(
        F.col(id_col),
        F.array_min(F.transform(F.col("__grams"), F.md5)).alias("fp"),
        F.size("__grams").alias("n_shingles"),
    )


def pack_sequences(
    df: DataFrame,
    token_col: str,
    budget: int,
    order_col: str = "doc_id",
    pack_col: str = "pack_id",
    offset_col: str = "pack_offset",
    n_buckets: int | None = None,
) -> DataFrame:
    """Concat-and-chunk sequence packing: documents, taken in
    ``order_col`` order, are conceptually concatenated into one token
    stream that is cut into fixed ``budget``-token packs (context
    windows). Each document gets the pack its FIRST token lands in
    (``pack_col``) and its start offset within that pack
    (``offset_col``) — documents may straddle pack boundaries, which is
    the standard GPT-style pretraining packing (no padding waste, no
    bin-packing search). Exact first-fit packing (never split a
    document) is inherently sequential; this is the formulation that
    scales.

    Scale design — the global running token sum is NOT a single
    unpartitioned window (that funnels the corpus through one task).
    Two-phase prefix sum, the same pattern as ``forward_fill``:

    1. deterministic fixed-width range buckets of ``order_col`` (one
       min/max scan), window cumsum WITHIN each bucket — partition-
       parallel;
    2. per-bucket token totals (one tiny aggregate, ≤ n_buckets rows)
       are cumulated on the driver and broadcast back as each bucket's
       global prefix.

    ``order_col`` must be unique (it defines the stream order);
    ``token_col`` must be non-negative integers.
    """
    from pyspark.sql import Window

    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    spark = df.sparkSession
    if n_buckets is None:
        n_buckets = max(spark.sparkContext.defaultParallelism, 2) * 4

    lo, hi = df.agg(
        F.min(F.col(order_col).cast("double")),
        F.max(F.col(order_col).cast("double")),
    ).collect()[0]
    if lo is None:
        return df.select(
            "*",
            F.lit(None).cast("bigint").alias(pack_col),
            F.lit(None).cast("bigint").alias(offset_col),
        ).limit(0)
    if float(hi) == float(lo):
        bucket = F.lit(0)
        n_buckets = 1
    else:
        width = (float(hi) - float(lo)) / n_buckets
        bucket = F.least(
            F.floor((F.col(order_col).cast("double") - F.lit(float(lo)))
                    / F.lit(width)),
            F.lit(n_buckets - 1),
        ).cast("int")

    tok = F.col(token_col).cast("bigint")
    w = (
        Window.partitionBy("__bkt")
        .orderBy(F.col(order_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = df.withColumn("__bkt", bucket).withColumn(
        "__cum", F.sum(tok).over(w),
    )

    totals = {
        r["__bkt"]: r["t"]
        for r in local.groupBy("__bkt").agg(F.sum(tok).alias("t")).collect()
    }
    prefix_rows, acc = [], 0
    for b in range(n_buckets):
        prefix_rows.append((b, acc))
        acc += int(totals.get(b, 0) or 0)
    prefix = spark.createDataFrame(prefix_rows, "__bkt int, __prefix bigint")

    # integer DIV/% keep the arithmetic exact past 2^53 total tokens
    # (double floor-division would not)
    start = F.col("__prefix") + F.col("__cum") - tok  # global 0-based start
    return (
        local.join(F.broadcast(prefix), "__bkt")
        .withColumn("__start", start)
        .withColumn(pack_col, F.expr(f"__start DIV {int(budget)}"))
        .withColumn(offset_col, F.expr(f"__start % {int(budget)}"))
        .drop("__bkt", "__cum", "__prefix", "__start")
    )


def quality_gate(
    df: DataFrame,
    rules: Sequence[tuple[str, Column]],
    mode: str = "annotate",
) -> DataFrame:
    """Compose per-document quality signals into ONE keep/drop decision
    with per-rule attribution — the final stage of every filtering
    pipeline (Gopher/C4/FineWeb-style rule stacks).

    ``rules`` is an ordered list of ``(name, boolean Column)``: a
    document is kept iff every rule passes; a dropped document carries
    the FIRST failing rule's name (rule order = precedence) so
    :func:`gate_stats` attributes every drop to exactly one rule —
    attribution sums to the drop count instead of double-counting
    multi-rule failures. A NULL rule result (signal undefined, e.g.
    ratios of a wordless doc) fails closed: the document drops under
    that rule's name.

    ``mode="annotate"`` appends ``keep`` (int 0/1) + ``reject_reason``
    ('' when kept); ``mode="filter"`` returns only kept rows, original
    schema. Pure projection — rules are Column expressions over already-
    computed signal columns, so the gate adds zero scans and zero
    shuffles to the signal pipeline it caps.
    """
    if mode not in ("annotate", "filter"):
        raise ValueError(f"mode must be 'annotate' or 'filter', got {mode!r}")
    if not rules:
        raise ValueError("rules must be a non-empty sequence of (name, Column)")
    names = [n for n, _ in rules]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate rule names: {sorted(names)}")
    passed = [F.coalesce(cond.cast("boolean"), F.lit(False)) for _, cond in rules]
    keep = passed[0]
    for p in passed[1:]:
        keep = keep & p
    # build the when-chain in order so the FIRST failing rule wins
    chain = None
    for (name, _), p in zip(rules, passed):
        chain = (F.when(~p, name) if chain is None else chain.when(~p, name))
    reason = chain.otherwise("")
    if mode == "filter":
        return df.filter(keep)
    return df.select(
        "*", keep.cast("int").alias("keep"), reason.alias("reject_reason"),
    )


def gate_stats(gated: DataFrame) -> DataFrame:
    """Drop attribution for a :func:`quality_gate` ``annotate`` result:
    ``(reject_reason, n_docs)`` including the kept bucket (reason '').
    One hash aggregate, reasons-sized output."""
    return gated.groupBy("reject_reason").agg(
        F.count(F.lit(1)).alias("n_docs"),
    )


def collocations(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
    words: DataFrame | None = None,
    grams: DataFrame | None = None,
) -> DataFrame:
    """Corpus-level collocation (phrase) mining: adjacent word pairs
    scored by their association ratio — the phrase-detection pass
    tokenizer and quality teams run over a training corpus (Mikolov et
    al.'s word2vec phrase scoring is the same count ratio with a
    discount).

    ``lift = n_pair * N / (n_w1 * n_w2)`` where ``N`` is the corpus word
    count — the exponentiated PMI, kept as a ratio instead of a log so
    the whole score is a fixed tree of exactly-rounded IEEE ops over
    exact integers: any engine computing ``((n_pair*N)/n_w1)/n_w2`` in
    doubles produces the identical bits (log/exp have no such
    cross-engine guarantee). ``lift > 1`` co-occurs more than unigram
    frequencies predict; a bigram of two corpus-dominating words scores
    near 1 no matter how often it appears.

    Scale shape: the corpus collapses in two keyed hash aggregates —
    bigram counts over the non-distinct ``exploded_shingles(df, n=2)``
    explode, and a direct per-word occurrence count whose map-side
    partials collapse to vocabulary size per task — ``min_count``
    prunes the bigram tail BEFORE the two word-count joins; ``N`` rides
    in as a broadcast one-row aggregate. No windows, no driver collects.
    Returns ``(w1, w2, n_pair, n_w1, n_w2, lift)``.

    ``words`` accepts a precomputed ``(id, word)`` explode, one row per
    word occurrence of ``split(text, " ")``; ``grams`` accepts a
    precomputed non-distinct ``exploded_shingles(df, n=2)`` frame. Both
    let callers share one tokenize-explode across operators.
    """
    from sed_spark.ext import scale_out

    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    if grams is None:
        grams = exploded_shingles(df, id_col, text_col, n=2)
    bg = grams.groupBy("g").agg(F.count(F.lit(1)).alias("cnt")).filter(
        F.col("cnt") >= min_count,
    )
    word_src = (
        words.select("word") if words is not None
        else scale_out(df)
        .select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
    )
    words = word_src.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("tf"),
    )
    total = words.agg(F.sum("tf").cast("double").alias("__N"))
    split = F.split(F.col("g"), " ")
    pairs = bg.select(
        F.element_at(split, 1).alias("w1"),
        F.element_at(split, 2).alias("w2"),
        F.col("cnt").cast("long").alias("n_pair"),
    )
    w1 = words.select(F.col("word").alias("w1"), F.col("tf").alias("n_w1"))
    w2 = words.select(F.col("word").alias("w2"), F.col("tf").alias("n_w2"))
    return (
        pairs.join(w1, "w1")
        .join(w2, "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1", "w2", "n_pair",
            F.col("n_w1").cast("long").alias("n_w1"),
            F.col("n_w2").cast("long").alias("n_w2"),
            (
                F.col("n_pair").cast("double") * F.col("__N")
                / F.col("n_w1") / F.col("n_w2")
            ).alias("lift"),
        )
    )
