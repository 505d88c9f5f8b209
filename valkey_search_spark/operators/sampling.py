"""Deterministic sampling for training-data assembly.

Two primitives a 100 TB pipeline needs constantly:

- ``split_by_hash``: train/val/test splits keyed on a STABLE hash of the
  document key. Spark's ``randomSplit`` re-evaluates nondeterministically
  when the plan is recomputed (a classic silent-leak bug — the same doc
  can land in train on one action and val on the next); hashing the key
  makes membership a pure function of the data, reproducible across jobs,
  clusters, and re-runs, and requires no shuffle at all.
- ``mix_corpora``: blend several sources to target proportions (the
  data-mixture step of LLM training runs), tagging provenance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def split_by_hash(df: DataFrame, key: str,
                  fractions: dict[str, float],
                  salt: str = "split") -> dict[str, DataFrame]:
    """Partition ``df`` into named splits by bucketing a salted xxhash64
    of the key. Fractions must sum to ~1. Membership is deterministic in
    (key, salt): adding a split later with a new salt cannot leak rows
    between existing splits of the same salt."""
    total = sum(fractions.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"fractions sum to {total}, expected 1.0")
    # uniform in [0, 1): bucket the hash into 1e6 cells
    cells = 1_000_000
    u = (F.pmod(F.xxhash64(F.col(key).cast("string"), F.lit(salt)),
                F.lit(cells)) / float(cells))
    out: dict[str, DataFrame] = {}
    lo = 0.0
    names = list(fractions)
    for i, name in enumerate(names):
        hi = 1.0 if i == len(names) - 1 else lo + fractions[name]
        out[name] = df.where((u >= lo) & (u < hi))
        lo = hi
    return out


def _hash_unit(cols, salt: str, open_zero: bool = False):
    """Salted-hash uniform unit over 2^30 cells — the shared membership
    primitive (sub-1e-6 fractions still select rows; comparisons run as
    DOUBLES so no truncation bias). [0, 1) by default; ``open_zero``
    shifts to (0, 1] so ``-ln(u)`` stays finite (A-Res keys). One
    definition so memberships can never drift between operators."""
    cells = 1 << 30
    h = F.pmod(F.xxhash64(*cols, F.lit(salt)), F.lit(cells)).cast("double")
    if open_zero:
        return (h + 1.0) / float(cells)
    return h / float(cells)


def mix_corpora(sources: list[tuple[str, DataFrame, float]],
                total_rows: int, seed: int = 42) -> DataFrame:
    """Blend ``(name, df, weight)`` sources into ~``total_rows`` rows at
    the weight proportions, each row tagged with its ``source`` name.
    All source row counts come from ONE aggregation job (a union of
    name-tagged scans grouped by name), not a count per source; sampling
    itself is a scan (no shuffle). Sources smaller than their target are
    taken whole (the blend then undershoots rather than duplicating
    documents)."""
    names = [name for name, _, _ in sources]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate source names: {names}")
    wsum = sum(w for _, _, w in sources)
    counted = [
        df.select(F.lit(name).alias("__src")) for name, df, _ in sources
    ]
    counts_df = counted[0]
    for c in counted[1:]:
        counts_df = counts_df.unionAll(c)
    counts = {r["__src"]: r["n"] for r in
              counts_df.groupBy("__src").agg(F.count("*").alias("n")).collect()}
    parts = []
    for name, df, w in sources:
        target = int(round(total_rows * w / wsum))
        n = counts.get(name, 0)
        if n == 0 or target == 0:
            continue
        frac = min(1.0, target / n)
        part = df.sample(fraction=frac, seed=seed) if frac < 1.0 else df
        parts.append(part.withColumn("source", F.lit(name)))
    if not parts:
        raise ValueError("no non-empty sources")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def cross_split_leakage(splits: dict[str, DataFrame], pairs: DataFrame,
                        key: str = "doc_id") -> DataFrame:
    """Report near-duplicate pairs whose members landed in DIFFERENT
    splits — the eval-contamination check run after ``split_by_hash`` +
    a dedup pair generator (``minhash_lsh_pairs`` etc., columns
    ``a``/``b``).

    Returns (a, b, split_a, split_b) rows with split_a != split_b.
    Plan shape: the split membership frames union into ONE name-tagged
    assignment relation (each is a filter of the same scan, so Catalyst
    reads the source once per split filter, no shuffle), and the pairs
    frame — tiny relative to the corpus by construction — hash-joins
    against it twice on the key. No driver materialization."""
    assign = None
    for name, df in splits.items():
        part = df.select(F.col(key).alias("__k"),
                         F.lit(name).alias("__split"))
        assign = part if assign is None else assign.unionByName(part)
    if assign is None:
        raise ValueError("no splits given")
    return (pairs
            .join(assign.withColumnRenamed("__k", "a")
                        .withColumnRenamed("__split", "split_a"), "a")
            .join(assign.withColumnRenamed("__k", "b")
                        .withColumnRenamed("__split", "split_b"), "b")
            .where(F.col("split_a") != F.col("split_b"))
            .select("a", "b", "split_a", "split_b"))


def sample_to_token_budget(df: DataFrame, key: str,
                           budget_tokens: int,
                           text_col: str = "text",
                           by: str | None = None,
                           salt: str = "budget") -> DataFrame:
    """Deterministic subsample hitting ~``budget_tokens`` whitespace
    tokens, globally or per ``by`` group (the token-budget step of a
    data-mixture recipe: "200B tokens of web, 30B of code, ...").

    Documents are kept whole; membership is a pure function of
    (key, salt) — a salted-hash threshold at fraction
    budget / group_total, so re-runs, retries, and plan recomputation
    select the SAME documents (Spark's ``sample`` does not guarantee
    that under recomputation). Groups already under budget are taken
    whole.

    Fully distributed: per-group token totals aggregate into a frame
    that joins back on the group key (null-safe) — NOTHING reaches the
    driver, so ``by`` can be any cardinality (sources, domains, even
    buckets of a URL hash). With few groups Catalyst/AQE broadcasts
    the totals; the sample itself is the joined scan's filter."""
    toks = F.size(F.filter(F.split(F.col(text_col), r"\s+"),
                           lambda w: w != ""))
    group = F.col(by) if by else F.lit("__all")
    # materialize the group as a REAL column so the grouped case's
    # null-safe join is a hash equi-join (pinned in tests). In the
    # global case Catalyst constant-folds the key and plans a ONE-row
    # broadcast nested loop — cost-identical to a map-side filter
    work = df.withColumn("__g0", group)
    fracs = (work.select(F.col("__g0").alias("__g"), toks.alias("__n"))
             .groupBy("__g").agg(F.sum("__n").alias("__total"))
             .select("__g", F.when(
                 F.col("__total") > 0,
                 F.least(F.lit(1.0),
                         F.lit(float(budget_tokens)) / F.col("__total")))
                 .otherwise(F.lit(1.0)).alias("__frac")))
    return (work.join(fracs, F.col("__g0").eqNullSafe(F.col("__g")))
                .where(_hash_unit([F.col(key).cast("string")], salt)
                       < F.col("__frac"))
                .drop("__g0", "__g", "__frac"))


def alpha_sample_to_budget(df: DataFrame, key: str,
                           total_budget_tokens: int,
                           by: str = "source", alpha: float = 0.3,
                           text_col: str = "text",
                           salt: str = "alpha") -> DataFrame:
    """Temperature-based mixture sampling (the mT5/XLM-R alpha recipe):
    split a total token budget across the ``by`` groups in proportion to
    ``tokens(group) ** alpha``, then deterministically subsample each
    group to its share. ``alpha=1`` reproduces the natural distribution,
    ``alpha=0`` splits the budget uniformly, and the published sweet
    spot (0.3 in XLM-R, 0.2-0.7 in mT5's study) boosts low-resource
    groups without letting any single group dominate.

    Groups whose share exceeds their actual tokens are taken WHOLE (no
    upsampling/duplication — the mix then undershoots the budget, the
    same convention as ``mix_corpora``; redistribute by re-running with
    a larger budget if exact totals matter). Membership is the same
    salted-hash threshold as ``sample_to_token_budget`` — a pure
    function of (key, salt), stable under plan recomputation.

    Fully distributed: one per-group token aggregation, a one-row
    normalizer joined back broadcast-style, and the sample is a filter
    on the joined scan — nothing reaches the driver."""
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    toks = F.size(F.filter(F.split(F.col(text_col), r"\s+"),
                           lambda w: w != ""))
    work = df.withColumn("__g0", F.col(by))
    totals = (work.select(F.col("__g0").alias("__g"), toks.alias("__n"))
              .groupBy("__g").agg(F.sum("__n").alias("__total"))
              .where(F.col("__total") > 0)
              .withColumn("__w", F.pow(F.col("__total").cast("double"),
                                       F.lit(float(alpha)))))
    norm = totals.agg(F.sum("__w").alias("__wsum"))
    fracs = (totals.crossJoin(F.broadcast(norm))
             .select("__g", F.least(
                 F.lit(1.0),
                 (F.lit(float(total_budget_tokens)) * F.col("__w")
                  / F.col("__wsum")) / F.col("__total")).alias("__frac")))
    u = _hash_unit([F.col(key).cast("string")], salt)
    # LEFT join + null-frac -> 1.0: a zero-token group is excluded from
    # the share computation (no meaningful weight) but its documents
    # are not silently deleted — taken whole, the same convention as
    # sample_to_token_budget's under-budget groups
    return (work.join(fracs, F.col("__g0").eqNullSafe(F.col("__g")),
                      "left")
                .where(u < F.coalesce(F.col("__frac"), F.lit(1.0)))
                .drop("__g0", "__g", "__frac"))


def upsample_to_token_budget(df: DataFrame, key: str,
                             budget_tokens: int | dict,
                             text_col: str = "text",
                             by: str | None = None,
                             max_epochs: int | None = None,
                             salt: str = "upsample") -> DataFrame:
    """Replicate (or thin) each group to ~``budget_tokens`` whitespace
    tokens — the MULTI-EPOCH side of a data-mixture recipe that
    ``sample_to_token_budget`` cannot express: a small high-quality
    source with a share above its size repeats (e.g. 3.2 epochs), a
    large source thins, and the output carries an ``epoch`` column
    (0-based replica index) so downstream shuffles/shard writers can
    interleave replicas instead of emitting them adjacent (hash on
    key + epoch, not key alone).

    Per group, ``rate = budget / group_tokens``; every document gets
    ``floor(rate)`` full copies plus one more iff its salted-hash unit
    is below ``frac(rate)`` — deterministic in (key, salt), stable
    under plan recomputation, and the expected output is exactly the
    budget with whole documents only (the same convention as the other
    samplers; rate < 1 degenerates to whole-document thinning).
    ``budget_tokens`` may be a dict ``{group: budget}`` when ``by`` is
    given — groups missing from the dict pass through at 1 epoch.
    ``max_epochs`` caps the rate (the published data-recipe guardrail
    against over-repeating tiny sources); the capped group then
    undershoots its budget, reported nowhere silently — read the
    ``epoch`` column distribution.

    Fully distributed: one per-group token aggregation joined back,
    replication via ``explode(sequence(...))`` on the scan — the
    group totals frame is the only (tiny) shuffle."""
    if max_epochs is not None and max_epochs < 1:
        raise ValueError(f"max_epochs must be >= 1, got {max_epochs}")
    if isinstance(budget_tokens, dict):
        if not by:
            raise ValueError("a per-group budget dict requires `by`")
        budgets = F.create_map(
            *[F.lit(x) for kv in budget_tokens.items() for x in kv])
    else:
        budgets = F.lit(float(budget_tokens))
    toks = F.size(F.filter(F.split(F.col(text_col), r"\s+"),
                           lambda w: w != ""))
    group = F.col(by) if by else F.lit("__all")
    work = df.withColumn("__g0", group)
    totals = (work.select(F.col("__g0").alias("__g"), toks.alias("__n"))
              .groupBy("__g").agg(F.sum("__n").alias("__total")))
    if isinstance(budget_tokens, dict):
        budget = budgets[F.col("__g")].cast("double")
    else:
        budget = budgets
    rate = F.when(F.col("__total") > 0, budget / F.col("__total")) \
        .otherwise(F.lit(None))
    # a group absent from the budget dict (null budget) passes through
    # at exactly one epoch
    rate = F.coalesce(rate, F.lit(1.0))
    if max_epochs is not None:
        rate = F.least(rate, F.lit(float(max_epochs)))
    rates = totals.select("__g", rate.alias("__rate"))
    u = _hash_unit([F.col(key).cast("string")], salt)
    base = F.floor(F.col("__rate")).cast("long")
    copies = base + F.when(u < F.col("__rate") - base, 1).otherwise(0)
    return (work.join(rates, F.col("__g0").eqNullSafe(F.col("__g")))
                .withColumn("epoch", F.explode(
                    F.when(copies > 0,
                           F.sequence(F.lit(0).cast("long"), copies - 1))
                    .otherwise(F.array().cast("array<long>"))))
                .drop("__g0", "__g", "__rate"))


def weighted_sample(df: DataFrame, weight_col: str, n: int,
                    by: str | None = None,
                    salt: str = "weighted",
                    key: str | None = None) -> DataFrame:
    """Exactly ``min(n, |group|)`` rows per group (or globally when
    ``by`` is None), drawn WITHOUT replacement with inclusion chance
    proportional to ``weight_col`` — the Efraimidis-Spirakis A-Res
    scheme ("Weighted random sampling with a reservoir", IPL 2006):
    each row gets key ``-ln(u)/w`` for a uniform u and the n SMALLEST
    keys win, which is distribution-identical to sequential
    probability-proportional-to-weight draws. The quality-weighted
    curation step ("keep 1M documents, favoring high quality_score")
    that uniform ``stratified_sample`` cannot express.

    u is a salted hash of ``key`` (pass the stable id column — the
    same contract as ``sample_to_token_budget``): membership is then
    a pure function of (key value, salt), invariant to adding or
    dropping unrelated columns upstream, and reproducible across
    re-runs and plan re-evaluations; vary ``salt`` for an independent
    redraw. With ``key=None`` the hash falls back to ALL columns —
    schema changes then redraw the whole sample, and unhashable
    column types (MapType) fail analysis — so prefer passing a key.
    Rows with NULL, NaN, or non-positive weight are EXCLUDED from the
    draw (they have no defined selection probability — same
    convention as SQL aggregates over null; pre-coalesce a floor
    weight to keep them eligible).

    Grouped mode is one shuffle (window by group; a hot group sorts in
    one task — the inherent cost of exact-N; at extreme group skew
    draw per sub-stratum and union). GLOBAL mode compiles to
    ``TakeOrderedAndProject`` — per-partition top-n heaps merged at
    the driver, never a single-task global sort."""
    if n <= 0:
        raise ValueError("n must be positive")
    from pyspark.sql.window import Window

    w = F.col(weight_col).cast("double")
    hash_cols = ([F.col(key)] if key is not None
                 else [F.col(c) for c in df.columns])
    # u in (0, 1]: open_zero keeps ln(u) finite; u=1 -> key 0.0 (best),
    # the correct limit (certain inclusion as w -> inf is monotone)
    u = _hash_unit(hash_cols, salt, open_zero=True)
    ares_key = -F.log(u) / w
    tiebreak = F.xxhash64(*hash_cols, F.lit(salt), F.lit("tb"))
    valid = df.where(w.isNotNull() & ~F.isnan(w) & (w > 0))
    if by is None:
        # global exact-N: sort-limit plans as per-partition heaps
        # (TakeOrderedAndProject), no single-task window
        return (valid.withColumn("__k", ares_key)
                     .withColumn("__t", tiebreak)
                     .orderBy(F.col("__k").asc(), F.col("__t").asc())
                     .limit(n).drop("__k", "__t"))
    win = Window.partitionBy(by).orderBy(ares_key.asc(), tiebreak.asc())
    return (valid.withColumn("__rn", F.row_number().over(win))
                 .where(F.col("__rn") <= n)
                 .drop("__rn"))


def stratified_sample(df: DataFrame, by: str, n_per_group: int,
                      salt: str = "stratified") -> DataFrame:
    """Exactly ``min(n_per_group, |group|)`` rows from every ``by``
    group, chosen by hash order — membership is a pure function of
    (row contents, salt), reproducible across re-runs and plan
    re-evaluations, unlike ``sampleBy`` (which both re-randomizes per
    action and only approximates counts).

    One shuffle (window by group); rank by ``xxhash64(all columns,
    salt)`` so the sample is an order-free uniform draw. A hot group
    sorts in one task — the inherent cost of exact-N per group; for
    approximate fractions at extreme skew use ``split_by_hash``.
    """
    if n_per_group <= 0:
        raise ValueError("n_per_group must be positive")
    from pyspark.sql.window import Window

    h = F.xxhash64(*[F.col(c) for c in df.columns], F.lit(salt))
    w = Window.partitionBy(by).orderBy(h.asc())
    return (df.withColumn("__rn", F.row_number().over(w))
              .where(F.col("__rn") <= n_per_group)
              .drop("__rn"))
