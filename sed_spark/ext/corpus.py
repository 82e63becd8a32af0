"""Corpus-management operators: URL/domain analysis and deterministic
dataset splitting.

Web-corpus curation needs per-domain accounting (domain blocklists,
source balancing, per-domain dedup budgets) and reproducible
train/validation/test assignment that is stable across runs, machines,
and corpus growth. Both are pure Column expressions — a 100 TB scan is
one projection; the only shuffle is the (small-keyed) domain rollup.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sed_spark.dfops import uniform_hash_expr

__all__ = [
    "extract_urls",
    "domain_stats",
    "uniform_hash_expr",
    "hash_split",
    "rate_sample",
    "cap_rates",
    "blocklist_filter",
    "mixture_rates",
    "temperature_rates",
    "exact_cap_sample",
    "weighted_cap_sample",
    "quantile_gates",
    "quantile_by",
    "robust_stats_by",
    "decayed_stats_by",
    "gumbel_topk",
    "top_items_by",
    "corpus_diff",
]

#: scheme://host[:port][/path] — the regex subset with identical
#: Java/RE2 semantics (no lookaround, no backrefs). The host must start
#: and end with an alphanumeric so sentence-final punctuation
#: ("visit https://example.com. Next…") is not absorbed into the domain.
URL_PATTERN = (
    r"https?://[a-zA-Z0-9]([a-zA-Z0-9.-]*[a-zA-Z0-9])?(:\d+)?(/[^\s]*)?"
)
_HOST_PATTERN = r"https?://([a-zA-Z0-9]([a-zA-Z0-9.-]*[a-zA-Z0-9])?)"


def extract_urls(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One row per URL occurrence: (id, url, domain).

    ``domain`` is the URL's host lowercased with a leading ``www.``
    stripped — registrable-domain extraction (public-suffix lists) is a
    lookup-table join away and deliberately out of scope here.
    """
    urls = F.regexp_extract_all(F.col(text_col), F.lit(URL_PATTERN), 0)
    out = df.select(F.col(id_col), F.explode(urls).alias("url"))
    host = F.lower(F.regexp_extract(F.col("url"), _HOST_PATTERN, 1))
    domain = F.regexp_replace(host, r"^www\.", "")
    return out.withColumn("domain", domain)


def domain_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-domain rollup: URL count, distinct referencing documents.

    The aggregate shuffles on the domain key only — at corpus scale the
    result is dimension-table sized (millions of domains, not billions
    of documents) and feeds blocklist joins / per-domain sampling caps.
    """
    return (
        extract_urls(df, id_col, text_col)
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.count_distinct(F.col(id_col)).alias("n_docs"),
        )
    )


def hash_split(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "",
    split_col: str = "split",
    method: str = "xxhash64",
) -> DataFrame:
    """Deterministic dataset split by content of the id, not by row
    position: ``split`` = the bucket whose cumulative weight interval
    contains a hash of (id, salt) scaled into [0, 1).

    Unlike ``randomSplit`` (seed + partition-layout dependent, so the
    same document can change splits when the corpus repartitions), the
    assignment is a pure function of (id, salt): stable across runs,
    cluster sizes, and corpus growth — new documents never move old
    ones between splits. ``salt`` derives independent splits from the
    same ids. Weights are normalized; iteration order fixes interval
    order.

    ``method`` picks the hash: ``"xxhash64"`` (default — fastest,
    Spark-native) or ``"md5"`` (``u`` = the first 8 hex digits of
    ``md5(id || salt)`` over 2^32) — slower per row but every engine
    with an md5 builtin reproduces the assignment bit-for-bit, which
    is what makes a split auditable OUTSIDE the engine that produced
    it (and is the variant the DuckDB oracle checks).
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    if any(float(w) < 0 for w in weights.values()):
        raise ValueError(f"weights must be non-negative, got {weights}")
    total = float(sum(weights.values()))
    if total <= 0:
        raise ValueError("weights must sum to a positive value")
    u = uniform_hash_expr(id_col, salt, method)
    expr: Column | None = None
    acc = 0.0
    items = list(weights.items())
    for name, wgt in items[:-1]:
        acc += float(wgt) / total
        cond = u < acc
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn(split_col, expr)


def training_order(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    salt: str = "",
    method: str = "xxhash64",
    shard_col: str = "shard",
    pos_col: str = "pos",
) -> DataFrame:
    """Deterministic global training order: give every row a ``shard``
    and a 0-based ``pos`` within its shard — the epoch-shuffle step of a
    training pipeline (randomized example order that is reproducible
    across runs, engines, and cluster sizes, unlike ``orderBy(rand())``
    or relying on file listing order).

    ``shard`` = hash(id, salt) mod ``n_shards``; ``pos`` ranks the shard
    by a SECOND independent hash (salt || ``"|ord"``, id tie-break), so
    shard membership and within-shard order don't correlate. Reading
    shards in index order, each sorted by ``pos``, replays one global
    deterministic permutation; a different ``salt`` is a fresh epoch.

    Scale design: shard assignment is a pure projection; the position is
    a per-shard window — shards are hash-balanced, so pick ``n_shards``
    ≈ the output file count (thousands at 100 TB) and each window
    partition stays file-sized. The writer is ``partitionBy(shard)`` +
    ``sortWithinPartitions(pos)``; rows are never compared across
    shards (a global ``orderBy`` would range-shuffle the corpus for an
    ordering no training job actually needs globally materialized).
    """
    from pyspark.sql.window import Window

    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    if method == "xxhash64":
        h = F.xxhash64(F.col(id_col).cast("string"), F.lit(salt))
    elif method == "md5":
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))),
                1, 8,
            ),
            16, 10,
        ).cast("long")
    else:
        raise ValueError(f"unknown method {method!r}")
    u2 = uniform_hash_expr(id_col, salt + "|ord", method)
    out = df.withColumn(shard_col, F.pmod(h, F.lit(n_shards)).cast("int"))
    w = Window.partitionBy(shard_col).orderBy(u2.asc(), F.col(id_col).asc())
    return out.withColumn(
        pos_col, (F.row_number().over(w) - 1).cast("long"),
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    id_col: str = "doc_id",
    salt: str = "",
    method: str = "xxhash64",
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Materialize the corpus in :func:`training_order`: one
    ``shard=<k>/`` directory per shard, rows inside each shard written in
    ``pos`` order (parquet preserves intra-file row order, and
    ``repartition(shard)`` gives each shard exactly one task, hence one
    ordered file per shard plan-side). A trainer streams shards in index
    order — or shuffles shard order per epoch — and replays the same
    global permutation on any reader.

    Scale design: one hash shuffle (the repartition on the shard key) +
    the per-shard sort the window already needed; no global sort. Pick
    ``n_shards`` so a shard fits a single task comfortably (thousands of
    shards at 100 TB — they are the write granularity).
    """
    ordered = training_order(
        df, n_shards, id_col=id_col, salt=salt, method=method,
    )
    (
        ordered.repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", "pos")
        .write.mode(mode)
        .partitionBy("shard")
        .format(fmt)
        .save(path)
    )


def cap_rates(
    stats: DataFrame,
    cap: float,
    key_col: str = "domain",
    count_col: str = "n_docs",
    rate_col: str = "rate",
) -> DataFrame:
    """Per-group keep rates that downsample every group to ~``cap``
    members in expectation: ``rate = min(1, cap / count)``. Input is a
    rollup like :func:`domain_stats` — dimension-table sized, so the
    rates ride a broadcast join in :func:`rate_sample`."""
    if cap <= 0:
        raise ValueError(f"cap must be positive, got {cap}")
    return stats.select(
        F.col(key_col),
        F.least(F.lit(1.0), F.lit(float(cap)) / F.col(count_col).cast("double"))
        .alias(rate_col),
    )


def blocklist_filter(
    df: DataFrame,
    blocked: DataFrame,
    key_col: str = "domain",
    keep_col: str | None = None,
) -> DataFrame:
    """Drop (or flag) rows whose ``key_col`` appears in a blocklist table
    — the domain/URL denylist stage of web-corpus curation. One
    broadcast anti-join (the blocklist is dimension-sized by contract);
    rows with a NULL key are kept, matching the absent-is-unblocked
    semantics of :func:`rate_sample`.

    ``keep_col=None`` filters (plain ``left_anti``); a column name adds
    an int 0/1 flag instead (left join + null test).
    """
    bl = F.broadcast(blocked.select(key_col).distinct())
    if keep_col is None:
        return df.join(bl, key_col, "left_anti")
    marked = bl.withColumn("__blocked", F.lit(1))
    return (
        df.join(marked, key_col, "left")
        .withColumn(
            keep_col, F.when(F.col("__blocked").isNull(), 1).otherwise(0),
        )
        .drop("__blocked")
    )


def mixture_rates(
    stats: DataFrame,
    target_fracs: dict[str, float],
    key_col: str = "domain",
    count_col: str = "n_docs",
    rate_col: str = "rate",
) -> DataFrame:
    """Per-group keep rates that resample the corpus toward a TARGET
    MIXTURE (the static data-mixture step: given desired per-source
    proportions, downsample so the surviving corpus matches them). The
    output corpus size is the largest achievable without upsampling:
    ``S = min_g(n_g / t_g)``, and ``rate_g = t_g * S / n_g`` (the
    binding group keeps everything; every other group downsamples to its
    share). Feed the result to :func:`rate_sample` like :func:`cap_rates`.

    Groups absent from ``target_fracs`` get rate 0 (dropped — a mixture
    is a whitelist); fractions are normalized. A positive-fraction key
    with NO row in ``stats`` makes the mixture unachievable (that source
    would contribute 0% of a supposedly positive share) — that raises
    rather than silently returning rates for a different mixture.
    Driver-side math on the dimension-sized rollup only.
    """
    fracs = {k: float(v) for k, v in target_fracs.items()}
    total = sum(fracs.values())
    if total <= 0 or any(v < 0 for v in fracs.values()):
        raise ValueError(f"target fractions must be non-negative and sum > 0, got {target_fracs}")
    fracs = {k: v / total for k, v in fracs.items()}
    rows = {
        r[0]: int(r[1])
        for r in stats.select(key_col, count_col).collect()
        if r[0] in fracs and fracs[r[0]] > 0
    }
    missing = sorted(k for k, v in fracs.items() if v > 0 and k not in rows)
    if missing:
        raise ValueError(
            f"target_fracs assigns positive share to groups absent from "
            f"stats: {missing} — the requested mixture is unachievable",
        )
    if not rows:
        return stats.select(
            F.col(key_col), F.lit(0.0).alias(rate_col),
        )
    s = min(n / fracs[g] for g, n in rows.items())
    rate_map = {g: min(1.0, fracs[g] * s / n) for g, n in rows.items()}
    mapping = F.create_map(
        *[F.lit(x) for kv in rate_map.items() for x in kv],
    )
    return stats.select(
        F.col(key_col),
        F.coalesce(mapping[F.col(key_col)], F.lit(0.0)).alias(rate_col),
    )


def temperature_rates(
    stats: DataFrame,
    alpha: float = 0.5,
    key_col: str = "domain",
    count_col: str = "n_docs",
    rate_col: str = "rate",
) -> DataFrame:
    """Per-group keep rates for TEMPERATURE-smoothed resampling: the
    surviving corpus has group shares ``∝ n_g^alpha`` (XLM/mBERT-style
    exponential smoothing — ``alpha = 1`` keeps natural proportions,
    smaller alpha flattens toward uniform, boosting low-resource
    sources without upsampling anything).

    Downsample-only realization: ``rate_g = (n_min / n_g)^(1 - alpha)``
    — the smallest group keeps everything, every larger group trims to
    its smoothed share. ``alpha = 0.5`` (the default) computes through
    ``sqrt``, which IEEE requires to be correctly rounded, so the rates
    are bit-identical on any engine; other alphas go through ``pow``
    (last-ulp differences between libms are possible — fine for
    sampling policy, relevant only to bit-exact replays). Driver-side
    math on the dimension-sized rollup, like :func:`mixture_rates`;
    feed the result to :func:`rate_sample`.
    """
    import math

    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    rows = {
        r[0]: int(r[1])
        for r in stats.select(key_col, count_col).collect()
        if r[1] is not None and r[1] > 0
    }
    if not rows:
        return stats.select(F.col(key_col), F.lit(0.0).alias(rate_col))
    n_min = min(rows.values())
    if alpha == 0.5:
        rate_map = {g: math.sqrt(n_min / n) for g, n in rows.items()}
    else:
        rate_map = {g: (n_min / n) ** (1.0 - alpha) for g, n in rows.items()}
    mapping = F.create_map(
        *[F.lit(x) for kv in rate_map.items() for x in kv],
    )
    return stats.select(
        F.col(key_col),
        F.coalesce(mapping[F.col(key_col)], F.lit(0.0)).alias(rate_col),
    )


def quantile_gates(
    df: DataFrame,
    col: str,
    lo_q: float = 0.01,
    hi_q: float = 0.99,
    exact: bool = False,
    keep_col: str | None = None,
    relative_error: float = 1e-4,
) -> DataFrame:
    """Percentile-band gate: keep rows whose ``col`` lies inside the
    [``lo_q``, ``hi_q``] quantile band — the standard distribution-tail
    trim of corpus curation ("drop the shortest/longest x% of documents",
    outlier removal on any numeric signal).

    Two passes: the thresholds are ONE aggregate (two driver scalars),
    the gate is one broadcast-threshold projection — never a global sort
    or rank of the corpus. ``exact=False`` (default, the 100 TB path)
    uses ``approx_percentile`` — Spark's one-pass bounded-memory
    quantile sketch, error ≤ ``relative_error`` rank units.
    ``exact=True`` computes true linear-interpolated percentiles
    (``percentile`` buffers the column per partition — audit/oracle mode
    for bounded data, not the default at scale).

    ``keep_col=None`` filters; a column name adds an int 0/1 flag.
    """
    if not (0.0 <= lo_q <= hi_q <= 1.0):
        raise ValueError(f"need 0 <= lo_q <= hi_q <= 1, got {lo_q}, {hi_q}")
    if exact:
        agg = F.percentile(F.col(col), F.lit([float(lo_q), float(hi_q)]))
    else:
        agg = F.percentile_approx(
            F.col(col),
            [float(lo_q), float(hi_q)],
            max(1, int(1.0 / relative_error)),
        )
    band = df.agg(agg).collect()[0][0]
    if band is None:  # empty frame or all-NULL column: no band exists
        raise ValueError(
            f"quantile_gates: no non-null values in column {col!r}",
        )
    lo, hi = (float(v) for v in band)
    keep = (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
    if keep_col is None:
        return df.filter(keep)
    return df.withColumn(keep_col, keep.cast("int"))


def exact_cap_sample(
    df: DataFrame,
    cap: int,
    key_col: str = "domain",
    id_col: str = "doc_id",
    salt: str = "",
    method: str = "xxhash64",
    keep_col: str | None = None,
) -> DataFrame:
    """EXACT per-group cap: keep the ``cap`` rows of each group whose
    hash of (id, salt) ranks smallest — deterministic (stable across
    runs, repartitions, and corpus growth: a new document only ever
    displaces the current worst-ranked member, never reshuffles the
    whole group) and exactly ``min(cap, |group|)`` per group.

    The skew trade, explicitly: this is a per-group window rank, so the
    corpus shuffles on ``key_col`` and each group is ranked within one
    task — one giant domain serializes through one core. Use
    :func:`rate_sample` (broadcast rates, no window) when group sizes
    are heavy-tailed and an expected cap suffices; use this when the cap
    must be exact and groups are known to be bounded (e.g. after a
    blocklist pass, or per-shard quotas).

    ``keep_col=None`` filters; a column name adds an int 0/1 flag.
    """
    from pyspark.sql.window import Window

    if cap <= 0:
        raise ValueError(f"cap must be positive, got {cap}")
    u = uniform_hash_expr(id_col, salt, method)
    w = Window.partitionBy(key_col).orderBy(
        u.asc(), F.col(id_col).asc(),
    )
    ranked = df.withColumn("__rn", F.row_number().over(w))
    keep = F.col("__rn") <= cap
    if keep_col is None:
        return ranked.filter(keep).drop("__rn")
    return ranked.withColumn(keep_col, keep.cast("int")).drop("__rn")


def gumbel_topk(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "",
    method: str = "md5",
    key_col: str = "gumbel_key",
    keep_col: str = "is_sampled",
    round_decimals: int = 6,
    threshold_frame: DataFrame | None = None,
) -> DataFrame:
    """Deterministic Gumbel-top-k sampling without replacement,
    proportional to ``exp(weight_col)`` (the Gumbel-max trick over
    log-weights; with a :func:`sed_spark.ext.text.dsir_score` column this
    IS the DSIR importance resample). Each row's key is
    ``weight + Gumbel(0,1)`` with the Gumbel noise derived from a hash of
    ``(id, salt)`` — reproducible across runs, cluster sizes, and engines,
    unlike ``rand()``-based samplers. Adds ``key_col`` (rounded) and an
    int 0/1 ``keep_col`` flag for the k largest keys.

    Scale design: two passes, no corpus-wide shuffle — the selection
    threshold comes from a top-k (``TakeOrderedAndProject``: per-partition
    top-k, k·P rows to the driver), then one flag projection against the
    broadcast scalar. Deliberately NOT a global window rank, which would
    funnel the corpus through one task. Exact-k caveat: rounded-key ties
    AT the threshold are all kept.

    ``threshold_frame``: the key depends only on ``(id_col, weight_col)``,
    but the threshold job executes ``df``'s WHOLE plan — inner joins
    cannot be pruned even when every branch is a 1:1 per-id enrichment
    of the same base table, so a wide pipeline recomputes all of its
    branches just to rank one column. When the caller KNOWS a cheaper
    frame carries the identical ``(id_col, weight_col)`` multiset (e.g.
    the single scoring branch before it was joined into the pipeline),
    passing it here runs the threshold job on that frame instead; the
    flag projection over ``df`` is unchanged, so the result is
    row-identical. The contract is the caller's to uphold — a frame
    with a different id/weight multiset silently shifts the threshold.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    u = uniform_hash_expr(id_col, salt, method)
    # midpoint offset: u = (h + 0.5) / 2^bits lands strictly inside (0, 1)
    # so neither log can hit 0 or -inf. For md5 the offset alone suffices
    # (2^-33 is representable at every u in [0, 1)); for xxhash64 the
    # int64->double cast can round the hash to exactly 2^63, making
    # u + 2^-65 == 1.0 (below the double ulp there) — the clamp keeps the
    # argument strictly below 1 in that corner. 1 - 2^-53 exceeds the md5
    # path's maximum (1 - 2^-33), so the clamp never alters md5 values and
    # the DuckDB oracle mirror stays bit-exact.
    half = 0.5 / (2.0 ** (32 if method == "md5" else 64))
    # F.least SKIPS nulls, so guard with when(): a NULL id (md5 of NULL
    # concat) must keep its NULL key, not inherit the clamp constant
    clamped = F.least(u + F.lit(half), F.lit(1.0 - 2.0 ** -53))
    gumbel = -F.log(-F.log(F.when(u.isNotNull(), clamped)))
    key = F.round(F.col(weight_col) + gumbel, round_decimals)
    keyed = df.withColumn(key_col, key)
    thr_source = df if threshold_frame is None else threshold_frame
    kth = (
        thr_source.select(key.alias(key_col))
        .orderBy(F.col(key_col).desc())
        .limit(k)
        .agg(F.min(key_col))
        .collect()[0][0]
    )
    if kth is None:  # fewer than 1 row (or all-null weights): nothing flagged
        return keyed.withColumn(keep_col, F.lit(0))
    return keyed.withColumn(
        keep_col, (F.col(key_col) >= F.lit(float(kth))).cast("int"),
    )


def rate_sample(
    df: DataFrame,
    rates: DataFrame,
    key_col: str = "domain",
    id_col: str = "doc_id",
    salt: str = "",
    method: str = "xxhash64",
    rate_col: str = "rate",
    keep_col: str | None = None,
) -> DataFrame:
    """Deterministic per-group downsampling — the source-balancing step
    of corpus curation (cap overrepresented domains): keep a row iff
    ``uniform_hash(id, salt) < rate(group)``.

    Scale design: a broadcast join of the (dimension-sized) rate table
    plus one projection — deliberately NOT a per-group window/rank,
    which would shuffle the full corpus on the group key and serialize
    each giant domain through one task (domain size is exactly the
    skewed quantity here). The trade: groups hit ~rate·n in expectation
    rather than an exact cap, which is what web-scale pipelines accept
    for skew-freedom. Like :func:`hash_split`, the decision is a pure
    function of (id, salt): stable under repartition and corpus growth,
    and independent decisions come from different salts.

    Rows whose group has no rate row are KEPT (rate defaults to 1.0 —
    an absent domain is an uncapped domain). ``keep_col=None`` filters;
    a column name adds an int 0/1 flag instead.
    """
    u = uniform_hash_expr(id_col, salt, method)
    rated = df.join(
        F.broadcast(rates.select(key_col, rate_col)), key_col, "left",
    )
    keep = u < F.coalesce(F.col(rate_col), F.lit(1.0))
    if keep_col is None:
        return rated.filter(keep).drop(rate_col)
    return rated.withColumn(keep_col, keep.cast("int")).drop(rate_col)


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    content_cols: Sequence[str] = ("text",),
) -> DataFrame:
    """Snapshot diff between two corpus versions: per document id, one of
    ``added`` (only in ``new``), ``removed`` (only in ``old``),
    ``changed`` (both, different content) or ``unchanged`` — the audit
    table an incremental ingestion run records next to its output, and
    the input to change-driven recompute (only ``added``/``changed`` ids
    re-enter the expensive signal pipeline).

    Content identity is the md5 of the ``content_cols``, each encoded
    null-safely (NULL -> ``\x00``, value v -> ``\x01`` + v) and joined
    with a ``\x1f`` separator — so NULL, empty string, and value shifts
    between adjacent columns all hash differently, and any engine with
    md5 reproduces the identity. The diff never ships document bodies
    through the join — each side is reduced to ``(id, 16-byte hash)``
    before the single full-outer shuffle on the id. At scale both sides are id-hash tables a fraction
    of corpus size; staging them bucketed by ``id_col``
    (:mod:`sed_spark.loader.bucketing`) makes the diff shuffle-free.
    Returns ``(id_col, status, old_hash, new_hash)`` — hashes NULL on
    the side the document is absent from.
    """
    content_hash = F.md5(
        F.concat_ws(
            "\x1f",
            *[
                # NULL-safe: concat() nulls out on a NULL input, and
                # concat_ws would silently SKIP it, colliding (x, NULL)
                # with (NULL, x) — encode presence explicitly instead
                F.coalesce(
                    F.concat(F.lit("\x01"), F.col(c).cast("string")),
                    F.lit("\x00"),
                )
                for c in content_cols
            ],
        ),
    )
    oh = old.select(F.col(id_col), content_hash.alias("old_hash"))
    nh = new.select(F.col(id_col), content_hash.alias("new_hash"))
    joined = oh.join(nh, id_col, "full_outer")
    status = (
        F.when(F.col("old_hash").isNull(), "added")
        .when(F.col("new_hash").isNull(), "removed")
        .when(F.col("old_hash") == F.col("new_hash"), "unchanged")
        .otherwise("changed")
    )
    return joined.select(
        F.col(id_col), status.alias("status"), "old_hash", "new_hash",
    )


def quantile_by(
    df: DataFrame,
    value_col: str,
    by: str | Sequence[str],
    probs: Sequence[float],
    exact: bool = False,
    relative_error: float = 1e-4,
    round_decimals: int | None = 6,
) -> DataFrame:
    """Per-GROUP percentiles in one aggregate — the grouped companion of
    :func:`quantile_gates` (per-domain length p99s for per-source gates,
    per-segment latency p50/p95, per-file signal spreads).

    One hash aggregate keyed on ``by``; every requested prob comes out
    of the same pass (the percentile functions take the prob list), then
    a ``posexplode`` to long form ``(by..., prob, q)`` — group-count ×
    len(probs) rows, never a window or global sort. ``exact=False``
    (default, the at-scale path) aggregates the ``approx_percentile``
    sketch with bounded memory per group; ``exact=True`` computes true
    linear-interpolated percentiles (buffers each group — audit/oracle
    mode, the cross-engine-exact one that DuckDB's ``quantile_cont``
    reproduces bit-for-bit on the suite's data).
    """
    keys = [by] if isinstance(by, str) else list(by)
    ps = [float(p) for p in probs]
    if not ps or not all(0.0 <= p <= 1.0 for p in ps):
        raise ValueError(f"probs must be non-empty within [0, 1], got {probs}")
    if exact:
        agg = F.percentile(F.col(value_col), F.lit(ps))
    else:
        agg = F.percentile_approx(
            F.col(value_col), ps, max(1, int(1.0 / relative_error)),
        )
    grouped = df.groupBy(*keys).agg(agg.alias("__qs"))
    from sed_spark.ext import lit_double_array

    probs_lit = lit_double_array(ps)
    out = grouped.select(
        *keys,
        F.posexplode("__qs").alias("__i", "q"),
    ).select(
        *keys,
        F.element_at(probs_lit, F.col("__i") + 1).alias("prob"),
        F.col("q"),
    )
    if round_decimals is not None:
        out = out.withColumn("q", F.round("q", round_decimals))
    return out


def decayed_stats_by(
    df: DataFrame,
    by: str | Sequence[str],
    ts_col: str,
    value_col: str | None = None,
    half_life: float = 86400.0,
    ref_ts: float | None = None,
    round_decimals: int | None = 6,
    quantize_decimals: int | None = None,
) -> DataFrame:
    """Per-key exponentially time-decayed count (and value sum) — the
    freshness signal of a crawl/feed pipeline (recency-weighted domain
    activity for sampling rates, trending keys, staleness triage).

    Each row weighs ``2^(-(T - t) / half_life)`` (weight 1 now, ½ one
    half-life ago). The decayed "count" is the sum of weights; the
    decayed sum weighs ``value_col``. Crucially this is ORDER-
    INDEPENDENT — unlike a recursive EWMA it is a plain weighted sum,
    so it aggregates in one hash pass with map-side partials, merges
    across shards/batches (decayed stats computed per day combine by
    re-decaying to a common T and adding), and never needs a window.

    ``ref_ts`` pins T explicitly (pass it to make runs reproducible and
    shard-mergeable); ``None`` uses the global max of ``ts_col`` — ONE
    scalar aggregate, then a literal in the projection.

    ``quantize_decimals`` switches the summation to ORDER-INDEPENDENT
    exact arithmetic: each row's weight (and weighted value) is rounded
    to that many decimals and summed as DECIMAL, so the result is
    bit-identical on any engine/partitioning (the audit/oracle mode —
    plain double sums are the default scale path; their last-ulp
    partition-order sensitivity is irrelevant to a sampling rate but
    not to a cross-engine hash).
    """
    from pyspark.sql.types import DecimalType

    keys = [by] if isinstance(by, str) else list(by)
    if half_life <= 0:
        raise ValueError(f"half_life must be positive, got {half_life}")
    if ref_ts is None:
        row = df.agg(F.max(F.col(ts_col).cast("double")).alias("m")).collect()
        if row[0]["m"] is None:
            raise ValueError(f"decayed_stats_by: no non-null {ts_col!r}")
        ref_ts = float(row[0]["m"])
    w = F.pow(
        F.lit(2.0),
        -(F.lit(float(ref_ts)) - F.col(ts_col).cast("double"))
        / F.lit(float(half_life)),
    )
    if quantize_decimals is not None:
        qd = int(quantize_decimals)
        dec = DecimalType(38, qd)

        def s(col):
            # exact decimal sum of per-row-rounded terms, back to double
            # through a string parse (both engines round-correctly there)
            return F.sum(F.round(col, qd).cast(dec)).cast("string").cast("double")
    else:
        def s(col):
            return F.sum(col)
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        s(w).alias("decayed_n"),
    ]
    if value_col is not None:
        aggs.append(s(w * F.col(value_col).cast("double")).alias("decayed_sum"))
    out = df.groupBy(*keys).agg(*aggs)
    if round_decimals is not None:
        out = out.withColumn("decayed_n", F.round("decayed_n", round_decimals))
        if value_col is not None:
            out = out.withColumn(
                "decayed_sum", F.round("decayed_sum", round_decimals),
            )
    return out


def robust_stats_by(
    df: DataFrame,
    value_col: str,
    by: str | Sequence[str],
    k: float = 3.0,
    exact: bool = False,
    relative_error: float = 1e-4,
    round_decimals: int | None = 6,
) -> DataFrame:
    """Per-group ROBUST center/spread + outlier counts: ``(by...,
    median, mad, n_rows, n_outliers)`` where ``mad`` is the median
    absolute deviation and a row is an outlier when ``|x - median| >
    k·mad`` — the monitoring gate that mean/stddev can't be (one
    corrupt shard's garbage lengths drag a mean-based z-score's OWN
    threshold; the median/MAD pair doesn't move until half the group is
    bad).

    Three hash aggregates on the group key, each with map-side
    partials, joined back — never a window over the rows: (1) the
    median, (2) the MAD over the deviation projection, (3) the
    count of deviations past ``k`` MADs (threshold from the UNROUNDED
    mad). ``exact=True`` is the linear-interpolated audit/oracle mode
    (DuckDB ``quantile_cont`` parity); the default approx sketch is
    the bounded-memory at-scale path. A constant group has ``mad = 0``
    and every differing row counts as an outlier — the strict ``>``
    keeps the all-equal group clean.
    """
    keys = [by] if isinstance(by, str) else list(by)
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")

    def med_of(col):
        if exact:
            return F.percentile(col, F.lit(0.5))
        return F.percentile_approx(col, 0.5, max(1, int(1.0 / relative_error)))

    def ns_join(left, right):
        # NULL-SAFE join-back: groupBy keeps a NULL-key group, but a
        # plain equi-join would drop it — exactly the corrupt-shard
        # group a monitoring gate most needs to see
        ren = {kk: f"__rk_{i}" for i, kk in enumerate(keys)}
        r = right
        for kk, nk in ren.items():
            r = r.withColumnRenamed(kk, nk)
        cond = None
        for kk, nk in ren.items():
            c = F.col(kk).eqNullSafe(F.col(nk))
            cond = c if cond is None else cond & c
        return left.join(r, cond).drop(*ren.values())

    v = F.col(value_col).cast("double")
    med = df.groupBy(*keys).agg(med_of(v).alias("__med"))
    dev = ns_join(df, med).select(
        *keys, F.abs(v - F.col("__med")).alias("__adev"), "__med",
    )
    mad = dev.groupBy(*keys).agg(
        F.first("__med").alias("__med"),
        med_of(F.col("__adev")).alias("__mad"),
    )
    out = (
        ns_join(dev.drop("__med"), mad)
        .groupBy(*keys)
        .agg(
            F.first("__med").alias("median"),
            F.first("__mad").alias("mad"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                (F.col("__adev") > F.lit(float(k)) * F.col("__mad"))
                .cast("long"),
            ).alias("n_outliers"),
        )
    )
    if round_decimals is not None:
        out = out.withColumn("median", F.round("median", round_decimals))
        out = out.withColumn("mad", F.round("mad", round_decimals))
    return out


def weighted_cap_sample(
    df: DataFrame,
    cap: int,
    weight_col: str,
    key_col: str = "domain",
    id_col: str = "doc_id",
    salt: str = "",
    method: str = "md5",
    keep_col: str | None = None,
    round_decimals: int = 6,
) -> DataFrame:
    """EXACT per-group cap where survival odds are PROPORTIONAL TO
    ``weight_col``: keep each group's ``cap`` rows with the largest
    A-ES key ``ln(u) / w`` (Efraimidis & Spirakis 2006 in log form —
    the weighted lottery :func:`exact_cap_sample`'s uniform rank can't
    express: cap a domain at N docs but let quality scores pick the
    survivors probabilistically rather than keeping only the top-N
    scores, which would bias every surviving domain toward one register)
    — deterministic: ``u`` hashes (id, salt), so the draw is stable
    across runs, repartitions, and engines, and a new document only
    ever displaces the current worst key.

    Rows with a NULL id, NULL weight, or non-positive weight get a NULL
    key and never survive (weights are odds; zero odds = never drawn —
    and a NULL id has no deterministic draw to rank by). Same skew
    contract as :func:`exact_cap_sample` (per-group window rank — use
    rate-based sampling for heavy-tailed groups); keys are rounded to
    ``round_decimals`` with the id as tie-break, the same quantized
    cross-engine convention as :func:`gumbel_topk`.
    ``keep_col=None`` filters; a column name adds an int 0/1 flag.
    """
    from pyspark.sql.window import Window

    if cap <= 0:
        raise ValueError(f"cap must be positive, got {cap}")
    u = uniform_hash_expr(id_col, salt, method)
    # same strictly-inside-(0,1) clamp as gumbel_topk so ln never hits 0
    half = 0.5 / (2.0 ** (32 if method == "md5" else 64))
    clamped = F.least(u + F.lit(half), F.lit(1.0 - 2.0 ** -53))
    w_val = F.col(weight_col).cast("double")
    # NULL ids never survive on EITHER hash path: md5(NULL||salt) is
    # already NULL, but xxhash64 SKIPS null inputs and hashes just the
    # salt — every NULL-id row would share one draw and tie
    # unbreakably (NULL id tie-break), making the survivor set
    # partition-dependent
    es_key = F.when(
        (w_val > 0) & F.col(id_col).isNotNull(),
        F.round(F.log(F.when(u.isNotNull(), clamped)) / w_val, round_decimals),
    )
    win = Window.partitionBy(key_col).orderBy(
        es_key.desc_nulls_last(), F.col(id_col).asc(),
    )
    ranked = df.withColumn("__wkey", es_key).withColumn(
        "__rn", F.row_number().over(win),
    )
    keep = (F.col("__rn") <= cap) & F.col("__wkey").isNotNull()
    if keep_col is None:
        return ranked.filter(keep).drop("__rn", "__wkey")
    return ranked.withColumn(keep_col, keep.cast("int")).drop("__rn", "__wkey")


def top_items_by(
    df: DataFrame,
    group_col: str,
    item_col: str,
    k: int = 10,
    weight_col: str | None = None,
) -> DataFrame:
    """Per-group top-``k`` heaviest item values — the heavy-hitters
    monitor every corpus pipeline runs per source/language/shard (which
    domains dominate a crawl slice, which event types dominate a user,
    which tokens dominate a subcorpus).

    Exact, two stages: one hash aggregate on ``(group, item)`` (map-side
    partials collapse the corpus to the distinct-pair table), then a
    ``row_number`` window over THAT AGGREGATED table partitioned by
    group. The window sorts distinct-item rows, never corpus rows — the
    same altitude argument as ``compaction_plan``'s metadata window; the
    collect-free alternative (per-group ``collect_list`` + slice) would
    materialize every group's full distinct-item set in one executor
    row and is exactly what this avoids for heavy-tailed item domains.

    Ranking is ``(weight DESC, item ASC)`` — fully deterministic; NULL
    items rank last among ties and NULL/non-positive weights never
    outrank real ones (``sum`` of an all-NULL weight group is NULL →
    ``desc_nulls_last``). Returns ``(group_col, item_col, n, rank)``
    with ``rank`` in ``1..k``.
    """
    from pyspark.sql.window import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    n = (
        F.sum(F.col(weight_col).cast("double"))
        if weight_col is not None
        else F.count(F.lit(1)).cast("long")
    )
    counts = df.groupBy(group_col, item_col).agg(n.alias("n"))
    win = Window.partitionBy(group_col).orderBy(
        F.col("n").desc_nulls_last(), F.col(item_col).asc_nulls_last(),
    )
    return (
        counts.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
    )
