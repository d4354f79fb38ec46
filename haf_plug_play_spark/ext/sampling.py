"""Deterministic sampling, stratified mixing, and sequence packing for
training-data preparation.

A corpus mix ("20% code, 30% web, quota 1M docs per language") must be
REPRODUCIBLE: re-running the pipeline on the same corpus has to select the
same documents, independent of partitioning, task order, or cluster size.
So nothing here uses ``rand()`` or ``df.sample`` (both seed per-partition
and change membership when the split layout changes). Selection is a pure
function of the row key via the portable md5 scheme (ext/hashing.py), which
also makes every operator DuckDB-oracle-checkable bit-for-bit.

Scale posture:
- ``hash_bernoulli`` is a stateless filter — codegen, no shuffle, pushdown-
  friendly.
- ``stratified_quota`` is one window per stratum (the shuffle is on the
  stratum key only); quota selection by hash ORDER makes it a uniform
  without-replacement sample per stratum, deterministic everywhere.
- ``pack_chunks`` packs documents into fixed-token-budget chunks with a
  per-stratum running sum — the standard "concatenate then slice"
  formulation of LLM pretraining sequence packing (documents may straddle
  a boundary; the chunk id is where the document STARTS). Partitioning by
  stratum keeps the window bounded: no global ordering, no single-reducer
  cumsum — a global pack would serialize 100 TB through one task.

Reference: the reference engine has no sampling surface at all; these
extend SURVEY §2's extension family alongside dedup/similarity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F
from haf_plug_play_spark.ext.materialize import materialize

from haf_plug_play_spark.ext.hashing import md5_int

# uniform-in-[0,1) resolution: md5_int % SCALE / SCALE. 2^20 buckets keeps
# rate granularity ~1e-6 while staying far from the 60-bit hash range.
_SCALE = 1 << 20


def _uniform(key: Column, seed: int) -> Column:
    """Deterministic uniform in [0, 1): hash of (key, seed) — changing the
    seed re-draws the whole sample; the same seed always re-selects it."""
    return (md5_int(F.concat_ws("\x01", key.cast("string"), F.lit(str(seed)))) % _SCALE) / _SCALE


def uniform_sql(key_expr: str, seed: int) -> str:
    """DuckDB spelling of ``_uniform`` (chr(1) = the \\u0001 separator)."""
    return (
        f"(CAST(('0x' || substr(md5(CAST({key_expr} AS VARCHAR) || chr(1) || '{seed}'), 1, 15)) "
        f"AS BIGINT) % {_SCALE}) / {_SCALE}"
    )


def bernoulli_flag(key: Column, rate: float, seed: int = 7) -> Column:
    """THE Bernoulli-membership predicate — uniform(key, seed) < rate.
    Single definition shared by ``hash_bernoulli`` (as a filter) and the
    curate funnel (as a flag column), so sample membership can never
    silently diverge between consumers."""
    return _uniform(key, seed) < F.lit(rate)


def hash_bernoulli(
    df: DataFrame, key_col: str, rate: float, seed: int = 7
) -> DataFrame:
    """Keep each row iff uniform(key, seed) < rate — deterministic Bernoulli
    sampling. Membership depends only on the key, so reruns, retries, and
    repartitions select the identical subset, and two tables sampled with
    the same key/seed stay row-aligned (joinable samples)."""
    return df.filter(bernoulli_flag(F.col(key_col), rate, seed))


def stratified_quota(
    df: DataFrame,
    strata_cols: list[str],
    quota: int,
    key_col: str,
    seed: int = 7,
) -> DataFrame:
    """At most ``quota`` rows per stratum, chosen uniformly without
    replacement by hash order (ties broken by the key itself, so the pick
    is total and deterministic). Adds ``sample_rank`` (1-based within the
    stratum). One shuffle on the strata key; a skewed giant stratum is
    bounded by the quota on output, and rank computation stays
    partition-parallel after the window shuffle."""
    u = _uniform(F.col(key_col), seed)
    w = W.partitionBy(*strata_cols).orderBy(u, F.col(key_col))
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= quota)
    )


def weighted_reservoir(
    df: DataFrame,
    strata_cols: list[str],
    k: int,
    key_col: str,
    weight_col: str,
    seed: int = 7,
) -> DataFrame:
    """Fixed-SIZE weighted sample without replacement per stratum —
    Efraimidis & Spirakis (2006): each row draws a deterministic
    uniform u ∈ (0, 1] from (key, seed) and ranks by ln(u)/w (the
    log-space form of u^(1/w) — monotone-equivalent, no underflow);
    the top k per stratum are EXACTLY a weight-proportional sample
    without replacement. The quota complement to ``hash_bernoulli``
    (fixed RATE) and ``stratified_quota`` (fixed size, UNIFORM):
    training-mix recipes say "exactly k documents per source, longer
    documents proportionally more likely" — this is that primitive.

    Scale shape: the TWO-PHASE distributed rank (the XA-topk-strat
    shape) — a local row_number per (stratum, input partition) prunes
    to ≤ k candidates before the per-stratum rank, so no stratum's full
    corpus slice ever funnels through one task; Spark's
    WindowGroupLimit additionally prunes before both shuffles. Rows
    with non-positive weight are excluded (they carry zero sampling
    probability in E-S, and ln(u)/w would invert their ordering).

    Determinism: u is a pure function of (key, seed); ties break on the
    key, so reruns and repartitions select the identical sample —
    partition-invariant like every sampler here. Adds ``sample_rank``
    (1-based within the stratum)."""
    u = (
        md5_int(
            F.concat_ws(
                "\x01", F.col(key_col).cast("string"), F.lit(str(seed))
            )
        )
        % _SCALE
        + 1
    ) / (_SCALE + 1.0)
    es = F.log(u) / F.col(weight_col).cast("double")
    pruned = df.filter(F.col(weight_col) > 0).withColumn("_es", es)
    w_local = W.partitionBy(
        *strata_cols, F.spark_partition_id()
    ).orderBy(F.desc("_es"), F.col(key_col))
    local = pruned.withColumn("_lr", F.row_number().over(w_local)).filter(
        F.col("_lr") <= k
    )
    w_final = W.partitionBy(*strata_cols).orderBy(
        F.desc("_es"), F.col(key_col)
    )
    return (
        local.withColumn("sample_rank", F.row_number().over(w_final))
        .filter(F.col("sample_rank") <= k)
        .drop("_es", "_lr")
    )


def weighted_reservoir_sql(
    key_expr: str, weight_expr: str, seed: int
) -> str:
    """DuckDB spelling of the Efraimidis–Spirakis rank key ln(u)/w with
    the identical (key, seed) uniform — for oracle row_number ORDER BY."""
    u = (
        f"((CAST(('0x' || substr(md5(CAST({key_expr} AS VARCHAR) || chr(1) "
        f"|| '{seed}'), 1, 15)) AS BIGINT) % {_SCALE} + 1) / ({_SCALE} + 1.0))"
    )
    return f"(ln({u}) / CAST({weight_expr} AS DOUBLE))"


def pack_chunks(
    df: DataFrame,
    strata_cols: list[str],
    token_col: str,
    budget: int,
    order_col: str | list[str],
) -> DataFrame:
    """Assign each document to a fixed-token-budget chunk within its
    stratum: documents are laid out in ``order_col`` order (one column or
    a composite, e.g. ``["doc_id", "chunk_idx"]`` for pre-chunked docs),
    token counts accumulate, and ``chunk_id`` = which budget-sized slice
    the document STARTS in (concatenate-then-slice packing). Adds
    ``chunk_id`` and ``chunk_offset`` (tokens before this doc within its
    stratum).

    Deterministic: pure function of (stratum, order_col). Scale: the only
    shuffle is the per-stratum window; chunk ids never need a global pass.
    """
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    w = W.partitionBy(*strata_cols).orderBy(*order_cols)
    run = F.sum(token_col).over(w.rowsBetween(W.unboundedPreceding, 0))
    offset = (run - F.col(token_col)).cast("long")
    return df.withColumn("chunk_offset", offset).withColumn(
        "chunk_id", F.floor(F.col("chunk_offset") / budget).cast("long")
    )


def pack_split_segments(
    df: DataFrame,
    strata_cols: list[str],
    token_col: str,
    budget: int,
    order_col: str | list[str],
) -> DataFrame:
    """Token-granular sequence packing — the GPT-style packer where the
    concatenated token stream is cut into EXACT ``budget``-token chunks
    and a document may SPAN a chunk boundary: one output row per
    (document, chunk) segment, with ``seg_start``/``seg_end`` giving the
    half-open token range OF THE DOCUMENT that lands in that chunk.
    ``pack_chunks`` is the whole-document variant (a doc belongs to the
    chunk it starts in); this one guarantees every chunk except each
    stratum's last holds exactly ``budget`` tokens — what a pretraining
    dataloader actually consumes.

    Shape: the same single per-stratum window as ``pack_chunks`` for the
    running offset, then a per-row ``sequence`` over the chunk ids the
    document spans — row expansion is (doc tokens / budget)-bounded and
    needs no second shuffle. Deterministic: pure function of
    (stratum, order_col). Zero-token documents produce no segments.
    """
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    w = W.partitionBy(*strata_cols).orderBy(*order_cols)
    run = F.sum(token_col).over(w.rowsBetween(W.unboundedPreceding, 0))
    off = (run - F.col(token_col)).cast("long")
    n = F.col(token_col).cast("long")
    # materialize the window offset BEFORE the explode: window expressions
    # cannot appear inside generator arguments
    staged = df.withColumn("_off", off).filter(n > 0)
    first = F.floor(F.col("_off") / budget)
    last = F.floor((F.col("_off") + n - F.lit(1)) / budget)
    out = staged.withColumn("chunk_id", F.explode(F.sequence(first, last)))
    seg_start = F.greatest(
        F.lit(0).cast("long"), F.col("chunk_id") * budget - F.col("_off")
    )
    seg_end = F.least(n, (F.col("chunk_id") + 1) * budget - F.col("_off"))
    return (
        out.withColumn("seg_start", seg_start)
        .withColumn("seg_end", seg_end)
        .withColumn("seg_len", (seg_end - seg_start))
        .drop("_off")
    )


def dsir_weights(
    docs: DataFrame,
    target_filter,
    n_buckets: int = 128,
    smoothing: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023, public
    method): score every document by how target-like its hashed n-gram
    features are. Features are word unigram + bigram OCCURRENCES hashed
    into ``n_buckets`` (the portable md5 scheme); the log importance
    weight is Σ ln(p_bucket / q_bucket) over the document's feature
    stream, where p is the smoothed bucket distribution of the TARGET
    subset (``target_filter``) and q of the full corpus — the standard
    pretraining-mixture steering signal.

    Scale shape: the feature stream is one explode; both bucket
    distributions are ``n_buckets``-bounded map-side-combinable
    aggregations, joined back to the stream as a BROADCAST log-ratio
    table; the per-doc weight is one keyed aggregation. Parity caveat
    (same family as unigram_lm_scores): the per-doc Σ of double
    log-ratios is shuffle-reassociated on both engines, so 6-dp oracle
    agreement assumes no document's sum sits within fp noise of a
    rounding boundary.

    Output: (id, n_feats, log_weight 6dp) ordered by id; documents with
    no words produce no row on either engine.
    """
    from haf_plug_play_spark.ext.hashing import md5_int, unigram_bigram_features

    # Materialized once (r15, guide §2.4): the bucket census and the
    # per-doc weight aggregation both consume the feature stream, and
    # Catalyst clones the explode+md5 subtree per consumer — the corpus
    # was featurized twice (and once more per pipeline consumer of the
    # weights). The stored stream is projected to three narrow columns
    # (the feature string exists only to derive its bucket); the
    # arithmetic of both consumers is unchanged.
    feats = docs.select(
        F.col(id_col),
        # NULL predicate values (e.g. a NULL lang column) mean NOT target
        # — without the coalesce, a bucket touched only by NULL-flag rows
        # would sum to NULL and silently drop its log-ratio terms
        F.coalesce(target_filter, F.lit(False)).alias("_tgt"),
        # the ONE shared featurizer (ext/hashing.py) — the classifier
        # scores over the identical feature stream
        F.explode(unigram_bigram_features(F.col(text_col))).alias("_f"),
    ).withColumn("_b", md5_int(F.col("_f")) % n_buckets).select(
        id_col, "_tgt", "_b"
    ).transform(materialize)

    # BOTH bucket distributions from ONE conditional aggregation over the
    # feature stream (the target count is a summed flag) — the two-agg
    # formulation re-evaluated the explode+md5 subtree twice. The table
    # is n_buckets-bounded; totals via its own aggregate cross-joined
    # back (no driver scalar).
    table = feats.groupBy("_b").agg(
        F.count("*").alias("_q"),
        F.sum(F.col("_tgt").cast("long")).alias("_t"),
    )
    # totals get distinct names: Spark resolves case-insensitively, so a
    # "_T" column would be ambiguous with "_t" after the cross join
    totals = table.agg(
        F.sum("_q").alias("_qtot"), F.sum("_t").alias("_ttot")
    )
    s = float(smoothing)
    ratio = table.crossJoin(F.broadcast(totals)).select(
        "_b",
        (
            F.log((F.col("_t") + s) / (F.col("_ttot") + s * n_buckets))
            - F.log((F.col("_q") + s) / (F.col("_qtot") + s * n_buckets))
        ).alias("_lr"),
    )
    out = (
        feats.join(F.broadcast(ratio), "_b")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_feats"),
            F.round(F.sum("_lr"), 6).alias("log_weight"),
        )
    )
    return out.select(
        F.col(id_col), F.col("n_feats").cast("long").alias("n_feats"), "log_weight"
    ).orderBy(id_col)


def weighted_mix(
    df: DataFrame,
    stratum_col: str,
    rates: dict[str, float],
    key_col: str,
    seed: int = 7,
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum Bernoulli rates — the corpus-mix primitive ("keep 80% of
    en-wiki, 20% of web, drop the rest"). Same determinism contract as
    ``hash_bernoulli``; the rate lookup compiles to a codegen CASE chain
    (no join, no shuffle), so the whole mix is a stateless filter."""
    rate = F.lit(float(default_rate))
    for value, r in sorted(rates.items()):
        rate = F.when(F.col(stratum_col) == value, F.lit(float(r))).otherwise(rate)
    return df.filter(_uniform(F.col(key_col), seed) < rate)


def split_assign(
    df: DataFrame,
    key_col: str,
    fractions: dict[str, float],
    seed: int = 7,
) -> DataFrame:
    """Deterministic train/val/test split: each row lands in exactly one
    named split, chosen by where uniform(key, seed) falls among the
    cumulative fractions (which must sum to 1.0). The standard holdout
    primitive for training pipelines — and like everything here, a pure
    function of the row key: reruns, repartitions, and incremental
    appends never move an existing row between splits, so a document can
    never silently migrate from test into train between pipeline runs.

    Splits are assigned in the ITERATION order of ``fractions`` (the
    caller's declared order, e.g. train/val/test) — the boundaries are
    cumulative sums, so order is part of the contract and documented in
    the oracle the same way. Compiles to a codegen CASE chain over one
    md5 — no shuffle, no join; adds a ``split`` column.
    """
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1.0, got {total}")
    u = _uniform(F.col(key_col), seed)
    names = list(fractions)
    # fold the CASE in reverse so the FIRST matching boundary wins
    expr = F.lit(names[-1])  # last split absorbs the tail (u < 1.0)
    bounds = []
    acc = 0.0
    for name in names[:-1]:
        acc += fractions[name]
        bounds.append((name, acc))
    for name, b in reversed(bounds):
        expr = F.when(u < F.lit(b), F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


def split_assign_sql(key_expr: str, fractions: dict[str, float], seed: int = 7) -> str:
    """DuckDB spelling of ``split_assign``'s CASE chain (same cumulative
    boundaries, same md5 uniform) — returns the bare CASE expression."""
    u = uniform_sql(key_expr, seed)
    names = list(fractions)
    branches = []
    acc = 0.0
    for name in names[:-1]:
        acc += fractions[name]
        branches.append(f"WHEN {u} < {acc} THEN '{name}'")
    return "CASE " + " ".join(branches) + f" ELSE '{names[-1]}' END"


def quantile_prune(
    df: DataFrame,
    strata_cols: list[str],
    score_col: str,
    keep_frac: float,
    tie_col: str,
) -> DataFrame:
    """Per-stratum quality pruning: keep the top ``keep_frac`` of each
    stratum by ``score_col`` (the "drop the worst-perplexity 30% of every
    source" primitive). Selection is rank-based — ``cume_dist`` over
    (score desc, tie) — so the cut adapts to each stratum's own score
    distribution instead of a global threshold, and the tie column makes
    the cut total and deterministic.

    One shuffle on the strata key (the window partition); ranking stays
    partition-parallel after it, so a skewed giant stratum is one fat
    window partition — bounded by the same stratum-size ceiling any
    per-stratum statistic has. Adds ``score_rank_frac`` (cumulative
    fraction of the stratum at or above this row).
    """
    w = W.partitionBy(*strata_cols).orderBy(
        F.col(score_col).desc(), F.col(tie_col)
    )
    return (
        df.withColumn("score_rank_frac", F.round(F.cume_dist().over(w), 6))
        .filter(F.col("score_rank_frac") <= keep_frac)
    )


def hash_shuffle(
    df: DataFrame, key_col: str, seed: int = 7, prefix_chars: int = 2
) -> DataFrame:
    """Deterministic global training-order shuffle: every row gets a unique
    ``pos`` (1..n) in md5-hash order of its key — the reproducible "shuffle
    the corpus before packing" primitive. A rerun, a repartition, or a
    different cluster size produces the identical permutation.

    Scale shape — a global row_number WITHOUT the single-reducer window:
    rows are bucketed by the hash's ``prefix_chars``-char prefix (256
    buckets by default), ranked per bucket (keyed window), and shifted by
    the cumulative counts of lexicographically smaller buckets. The only
    unkeyed window runs over the ≤ 16^prefix_chars bucket-count rows —
    bounded by construction — and the offsets join is a broadcast.
    Because the bucket prefix IS the hash's leading characters,
    (bucket lex order, within-bucket hash order) equals global hash order
    exactly, which is what the single-window DuckDB oracle checks.

    Output: the input columns plus ``pos`` (BIGINT, 1-based, dense).
    """
    h = F.md5(F.concat_ws("_", F.lit(str(seed)), F.col(key_col).cast("string")))
    staged = df.withColumn("_h", h).withColumn(
        "_b", F.substring("_h", 1, prefix_chars)
    )
    within = F.row_number().over(W.partitionBy("_b").orderBy("_h", key_col))
    counts = staged.groupBy("_b").agg(F.count("*").alias("_c"))
    offsets = counts.select(
        "_b",
        F.coalesce(
            F.sum("_c").over(
                W.orderBy("_b").rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("_off"),
    )
    return (
        staged.withColumn("_rn", within)
        .join(F.broadcast(offsets), "_b")
        .withColumn("pos", (F.col("_off") + F.col("_rn")).cast("long"))
        .drop("_h", "_b", "_rn", "_off")
    )


def temperature_mix(
    df: DataFrame,
    stratum_col: str,
    key_col: str,
    alpha: float = 0.5,
    seed: int = 7,
) -> DataFrame:
    """Temperature-scaled corpus rebalancing: sample stratum i (language,
    source) with probability ``rate_i ∝ p_i^(alpha-1)`` normalized so the
    rarest stratum keeps everything — the standard multilingual-pretraining
    alpha-sampling that flattens a skewed corpus toward uniform
    (alpha=1 keeps the natural distribution, alpha=0 equalizes strata,
    0<alpha<1 interpolates). Unlike ``weighted_mix`` the rates are DERIVED
    from the corpus's own stratum frequencies in the same query — no
    hand-maintained rate table to drift out of date.

    Plan shape: one tiny aggregation (stratum counts, map-side combined),
    rates computed with a window over that stratum-count table (bounded by
    the number of strata), broadcast-joined back, then the same
    deterministic uniform(key, seed) filter as ``hash_bernoulli`` — the
    full-table side never shuffles.

    Output: the kept rows plus their stratum ``mix_rate`` (rounded 6 dp).
    """
    counts = df.groupBy(stratum_col).agg(F.count("*").alias("_n"))
    # rate_i = (n_i / N)^(alpha-1) / max_j (n_j / N)^(alpha-1)
    #        = (n_i / n_min)^(alpha-1)   (maximized at the smallest stratum)
    w_all = W.partitionBy()
    rates = counts.select(
        stratum_col,
        F.pow(
            F.col("_n") / F.min("_n").over(w_all), F.lit(alpha - 1.0)
        ).alias("_rate"),
    )
    u = _uniform(F.col(key_col), seed)
    # NULL-SAFE join (review r9): a NULL stratum groups into its own
    # counts row but never equi-joins, so a plain join silently dropped
    # every NULL-stratum document — even at alpha=1, which contractually
    # keeps the natural distribution
    return (
        df.join(
            F.broadcast(rates.withColumnRenamed(stratum_col, "_s")),
            F.col(stratum_col).eqNullSafe(F.col("_s")),
        )
        .drop("_s")
        .filter(u < F.col("_rate"))
        .withColumn("mix_rate", F.round(F.col("_rate"), 6))
        .drop("_rate")
    )


def temperature_mix_sql(
    stratum_col: str, key_expr: str, alpha: float = 0.5, seed: int = 7
) -> str:
    """DuckDB spelling of ``temperature_mix`` over the documents table:
    same rate algebra (pow of count ratio), same md5 uniform."""
    u = uniform_sql(key_expr, seed)
    return (
        f"WITH counts AS (SELECT {stratum_col} AS s, count(*) AS n "
        "FROM documents GROUP BY 1), "
        "rates AS (SELECT s, pow(CAST(n AS DOUBLE) / min(n) OVER (), "
        f"{alpha - 1.0!r}) AS rate FROM counts) "
        f"SELECT doc_id, {stratum_col}, source, round(rate, 6) AS mix_rate "
        # IS NOT DISTINCT FROM mirrors the engine's null-safe join
        f"FROM documents JOIN rates ON {stratum_col} IS NOT DISTINCT FROM rates.s "
        f"WHERE {u} < rate ORDER BY doc_id"
    )


def mixture_report(
    df: DataFrame,
    targets: dict[str, float],
    weight: Column,
    stratum_col: str = "source",
) -> DataFrame:
    """Mixture accounting for a pretraining data recipe: per stratum
    (source/domain/language), the document and token counts, the ACTUAL
    token share, the TARGET share from the recipe, and the Bernoulli
    ``sample_rate`` that realizes the target mixture in one epoch —
    rate_i = (target_i / share_i) / max_j (target_j / share_j), so the
    most under-target stratum keeps everything and the rest downsample
    proportionally (the deterministic companion to ``weighted_mix``'s
    hand-set rates and ``temperature_mix``'s derived ones).

    Plan shape: ONE map-side-combinable aggregation over the corpus; the
    share/target/rate algebra runs on the strata-bounded result via
    unpartitioned windows (a handful of rows). Strata absent from the
    recipe get target 0 → rate 0 (dropped from the mixture, loudly
    visible in the report).

    Output: (stratum, n_docs, n_tokens, token_share, target_share,
    sample_rate) ordered by stratum, shares/rates rounded to 6 dp.
    """
    agg = df.groupBy(stratum_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(weight).cast("long").alias("n_tokens"),
    )
    w_all = W.partitionBy()
    target = F.lit(0.0)
    for name, t in sorted(targets.items(), reverse=True):
        target = F.when(F.col(stratum_col) == name, F.lit(float(t))).otherwise(
            target
        )
    staged = agg.select(
        stratum_col,
        "n_docs",
        "n_tokens",
        (F.col("n_tokens") / F.sum("n_tokens").over(w_all)).alias("_share"),
        target.alias("target_share"),
    ).select(
        stratum_col,
        "n_docs",
        "n_tokens",
        "_share",
        "target_share",
        # a stratum with docs but ZERO tokens has _share 0; target/0 would
        # be NULL — such a stratum contributes nothing to the mixture, so
        # its ratio (and hence rate) is 0, keeping every rate well-typed
        F.when(F.col("_share") == 0, F.lit(0.0))
        .otherwise(F.col("target_share") / F.col("_share"))
        .alias("_ratio"),
    )
    # a recipe disjoint from the corpus (every present stratum targeted
    # 0) must yield all-ZERO rates, not 0/0 NaN/null — "nothing sampled"
    # stays visible and downstream Bernoulli predicates stay well-typed
    rate = F.when(
        F.max("_ratio").over(w_all) == 0, F.lit(0.0)
    ).otherwise(F.col("_ratio") / F.max("_ratio").over(w_all))
    return staged.select(
        stratum_col,
        "n_docs",
        "n_tokens",
        F.round(F.col("_share"), 6).alias("token_share"),
        "target_share",
        F.round(rate, 6).alias("sample_rate"),
    ).orderBy(stratum_col)


def packing_report(
    packed: DataFrame,
    strata_cols: list[str],
    token_col: str,
    budget: int,
) -> DataFrame:
    """Sequence-packing efficiency accounting over ``pack_chunks`` output
    — the packing-factor audit a pretraining run uses to size its token
    budget (under concatenate-then-slice packing the interesting numbers
    are how many budget-sized chunks a stratum fills and how much of the
    nominal capacity its tokens occupy; a fill ratio far below 1 means
    the stratum fragments into underfull tail chunks).

    One map-side-combinable aggregation per stratum (count-distinct on
    the already-assigned chunk id), strata-bounded output — nothing
    corpus-sized shuffles beyond the keyed agg itself. Output per
    stratum, ordered: (strata..., n_docs, n_chunks, n_tokens,
    docs_per_chunk, fill_ratio) with ratios rounded 6 dp (the avg
    reassociation caveat family).
    """
    cap = F.col("n_chunks") * F.lit(int(budget))
    return (
        packed.groupBy(*strata_cols)
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("chunk_id").cast("long").alias("n_chunks"),
            F.sum(token_col).cast("long").alias("n_tokens"),
        )
        .select(
            *strata_cols,
            "n_docs",
            "n_chunks",
            "n_tokens",
            F.round(F.col("n_docs") / F.col("n_chunks"), 6).alias(
                "docs_per_chunk"
            ),
            F.round(F.col("n_tokens") / cap.cast("double"), 6).alias(
                "fill_ratio"
            ),
        )
        .orderBy(*strata_cols)
    )
