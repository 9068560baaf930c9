"""Deterministic sampling for reproducible corpus construction.

Training-data pipelines mix sources by quota ("keep 30% of crawl, 100% of
reference corpora"). `rand()`-based sampling is irreproducible across
engines, runs, and partitionings; these operators decide membership from a
content hash, so the same (seed, id) always samples the same way on any
engine — the selection is a pure function of the data.

Engine parity trick: the decision is `substring(md5(seed || ':' || id), 1,
8) < threshold_hex`. Lowercase-hex strings compare lexicographically
exactly like the integers they encode, and Spark and DuckDB produce
identical md5 hex — so the DuckDB oracle replays the identical selection
without any hex->int conversion.

Scale: per-row hash + compare, no shuffle, codegen-eligible; the sample
decision never needs a global pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.core import quote_ident

_HEX_SPACE = 16 ** 8  # 8 hex chars = 32 bits of the hash


def rate_to_threshold_hex(rate_e6: int) -> str:
    """Map an e6 fixed-point rate to the 8-hex-char decision threshold."""
    if not 0 <= rate_e6 <= 1_000_000:
        raise ValueError("rate_e6 must be in [0, 1000000]")
    if rate_e6 == 1_000_000:
        return "g"  # sorts after every hex digit -> keep all
    return format(rate_e6 * _HEX_SPACE // 1_000_000, "08x")


def sample_hash(id_col, seed: int):
    """The 8-hex-char decision hash for (seed, id)."""
    col = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.substring(F.md5(F.concat_ws(":", F.lit(str(seed)), col.cast("string"))), 1, 8)


def deterministic_sample(
    df: DataFrame, rate_e6: int, id_col: str = "doc_id", seed: int = 42
) -> DataFrame:
    """Keep ~rate_e6/1e6 of rows, decided purely by hash(seed, id)."""
    return df.filter(sample_hash(id_col, seed) < F.lit(rate_to_threshold_hex(rate_e6)))


def stratified_sample(
    df: DataFrame,
    rates_e6: dict[str, int],
    strata_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 42,
    default_rate_e6: int = 0,
) -> DataFrame:
    """Per-stratum quota sampling (source mixing): each stratum keeps its
    own hash fraction; strata absent from ``rates_e6`` keep
    ``default_rate_e6``. Membership is deterministic per (seed, id), so
    re-runs, engine changes, and repartitioning never change the corpus."""
    threshold = F.lit(rate_to_threshold_hex(default_rate_e6))
    for stratum, rate in sorted(rates_e6.items()):
        threshold = (
            F.when(F.col(strata_col) == stratum, F.lit(rate_to_threshold_hex(rate)))
            .otherwise(threshold)
        )
    return df.filter(sample_hash(id_col, seed) < threshold)


def mix_rates_e6(counts: dict[str, int], weights_e6: dict[str, int]) -> dict[str, int]:
    """Per-source keep rates achieving target mixture proportions.

    Given observed counts n_s and target weights w_s (e6 fixed-point over
    the listed sources), the largest achievable corpus with exact target
    proportions is T = min_s(n_s / w_s); each source then keeps
    c_s = T * w_s rows -> rate_s = c_s / n_s. All math in the integer e6
    domain so Spark and the DuckDB oracle derive bit-identical rates.
    Sources absent from ``weights_e6`` get rate 0 (dropped from the mix).
    """
    if not weights_e6:
        raise ValueError("weights_e6 must name at least one source")
    # zero-weight entries cannot constrain the mixture and should not trip
    # the absent-source check (they mean "drop this source", same as not
    # listing it) — but ALL weights zero is a contradiction, not a mixture.
    weights_e6 = {s: w for s, w in weights_e6.items() if w > 0}
    if not weights_e6:
        raise ValueError("weights_e6 must carry at least one positive weight")
    missing = [s for s in weights_e6 if s not in counts or counts[s] == 0]
    if missing:
        if len(missing) == len(weights_e6):
            # whole corpus (or every weighted slice of it) is empty: the
            # largest corpus matching the mixture is empty — not an error,
            # so empty-input pipelines compose (same contract as every
            # other catalog operator).
            return {s: 0 for s in weights_e6}
        # some weighted sources have rows while others are absent — a
        # mixture with a positive weight on an empty source is impossible
        # at any size, and an absent name is most likely a typo: raise.
        raise ValueError(f"weighted sources empty/absent from corpus: {missing}")
    t = min(counts[s] * 1_000_000 // w for s, w in weights_e6.items() if w > 0)
    return {
        s: (t * w // 1_000_000) * 1_000_000 // counts[s]
        for s, w in weights_e6.items()
    }


def temperature_mix(
    df: DataFrame,
    alpha_e6: int = 500_000,
    strata_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Temperature-scaled domain rebalancing (the Pile / T5 / mT5 mixing
    rule ``p_d ∝ n_d^alpha``): downsample every domain at rate
    ``r_d = (min_n / n_d)^(1 - alpha)`` so the SMALLEST domain keeps all
    its rows and surviving proportions follow ``n_d^alpha`` — alpha 1 is
    the natural mix (no-op), alpha 0 equalizes domains, the 0.5 default
    is the classic sqrt temperature.

    Per-domain counts are the one bounded driver collect (|domains|
    scalars, the ``domain_mix`` contract); selection is the pure-hash
    stratified filter, reproducible anywhere. At ``alpha_e6=500000`` the
    rate math is division + sqrt + floor — all correctly-rounded IEEE
    primitives, so the DuckDB oracle recomputing the same expression
    lands on bit-identical rates (x126). Other alphas go through
    ``pow``, which is NOT correctly rounded in general — supported, but
    only the sqrt temperature is oracle-exact.
    """
    import math

    if not 0 <= alpha_e6 <= 1_000_000:
        raise ValueError("alpha_e6 must be in [0, 1000000]")
    counts = {
        r[0]: r[1]
        for r in df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    if not counts:
        return df.filter(F.lit(False))
    min_n = min(counts.values())
    rates: dict[str, int] = {}
    for s, n in counts.items():
        ratio = float(min_n) / float(n)
        if alpha_e6 == 500_000:
            r = math.sqrt(ratio)
        elif alpha_e6 == 1_000_000:
            r = 1.0
        elif alpha_e6 == 0:
            r = ratio
        else:
            r = ratio ** (1.0 - alpha_e6 / 1_000_000.0)
        rates[s] = min(1_000_000, int(math.floor(r * 1_000_000.0)))
    return stratified_sample(
        df, rates, strata_col=strata_col, id_col=id_col, seed=seed,
        default_rate_e6=0,
    )


def domain_mix(
    df: DataFrame,
    weights_e6: dict[str, int],
    strata_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Rebalance a corpus to target source proportions (training-data
    mixture construction): downsample each source deterministically so the
    surviving corpus matches ``weights_e6`` at the largest achievable size.

    The per-source counts are one tiny aggregate collected to the driver
    (|sources| rows — same class as the incremental high-water-mark scalar,
    not a data-path collect); the selection itself is the pure-hash
    stratified filter, so membership is reproducible across engines, runs
    and partitionings. Proportions are exact in expectation (hash sampling
    is binomial per row, like every rate-based sampler at scale).
    """
    counts = {
        r[0]: r[1]
        for r in df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    rates = mix_rates_e6(counts, weights_e6)
    return stratified_sample(
        df, rates, strata_col=strata_col, id_col=id_col, seed=seed, default_rate_e6=0
    )


def shuffle_split(
    df: DataFrame,
    splits_e6: dict[str, int],
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Deterministic global shuffle order + named split assignment — the
    last step before a corpus ships to training: every row gets a ``split``
    ('train'/'val'/'test'/... by e6 fixed-point fractions summing to 1e6)
    and a ``shuffle_key`` defining a reproducible global training order.

    Both are pure functions of (seed, id) via the module's md5-hex trick,
    so the SAME rows land in the same split with the same order on any
    engine, any run, any partitioning — and the split decision is
    INDEPENDENT of the shuffle order (different salt), so resizing splits
    never reorders training data. Splits are assigned by cumulative hash
    thresholds in the dict's insertion order: disjoint and exhaustive by
    construction (the last split takes the ELSE branch).

    Scale: one per-row hash + compare, no shuffle. Consumers materialize
    the order with a range-partition-and-sort write on ``shuffle_key``
    (repartitionByRange + sortWithinPartitions) — a single exchange that
    replaces the usual non-reproducible ``rand()`` shuffle.
    """
    total = sum(splits_e6.values())
    if total != 1_000_000:
        raise ValueError(f"split fractions must sum to 1000000, got {total}")
    if any(v <= 0 for v in splits_e6.values()):
        raise ValueError("every split fraction must be positive")
    h = sample_hash(id_col, seed)
    names = list(splits_e6)
    ladder = None
    cum = 0
    for name in names[:-1]:
        cum += splits_e6[name]
        cond = h < F.lit(rate_to_threshold_hex(cum))
        ladder = F.when(cond, F.lit(name)) if ladder is None else ladder.when(cond, F.lit(name))
    last = F.lit(names[-1])
    split_col = last if ladder is None else ladder.otherwise(last)
    col = F.col(id_col)
    shuffle_key = F.md5(
        F.concat_ws(":", F.lit(f"shuffle:{seed}"), col.cast("string"))
    )
    return df.withColumn("split", split_col).withColumn("shuffle_key", shuffle_key)


def exact_quota_sample(
    df: DataFrame,
    quotas: dict[str, int],
    strata_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 42,
    n_shards: int = 32,
) -> DataFrame:
    """EXACTLY ``quotas[stratum]`` rows per stratum (fewer only if the
    stratum is smaller), chosen by ranking the deterministic sample hash —
    fixed-size eval/calibration sets where the binomial rate samplers
    (``deterministic_sample``/``stratified_sample``) cannot guarantee a
    count. Strata absent from ``quotas`` are dropped.

    Membership is a pure function of (seed, ids of the stratum): stable
    across engines/runs/partitionings, and monotone under quota growth
    (a larger quota keeps every row the smaller quota kept — the hash
    order is the same). Ties on the 8-hex-char hash (needs a 32-bit
    collision inside one stratum) break deterministically on id.

    Scale: with ``n_shards`` (the default 32) selection is two-phase —
    rank within (stratum, hash-shard) and keep each shard's top quota
    (every stratum-wide top-quota row is necessarily inside some shard's
    top quota), then re-rank only the quota x n_shards survivors per
    stratum. No single reducer ever sorts a whole stratum, so a skewed
    stratum costs what its largest SHARD costs; results are identical to
    the one-window form by the containment argument (pinned in tests).
    Pass ``n_shards=1`` for the literal single-window shape (the DuckDB
    oracle's form).
    """
    from pyspark.sql import Window

    if any(q <= 0 for q in quotas.values()):
        raise ValueError("every quota must be positive")
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    quota_col = None
    for stratum, q in sorted(quotas.items()):
        cond = F.col(strata_col) == stratum
        quota_col = F.when(cond, q) if quota_col is None else quota_col.when(cond, q)
    quota_col = quota_col.otherwise(F.lit(0))
    h = sample_hash(id_col, seed)
    base = df
    if n_shards > 1:
        shard = F.pmod(F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)), n_shards)
        w1 = Window.partitionBy(strata_col, shard).orderBy(h, F.col(id_col))
        base = (
            df.withColumn("_rk1", F.row_number().over(w1))
            .filter(F.col("_rk1") <= quota_col)
            .drop("_rk1")
        )
    w = Window.partitionBy(strata_col).orderBy(h, F.col(id_col))
    return (
        base.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= quota_col)
        .drop("_rk")
    )


def exclusive_prefix(totals: dict) -> dict:
    """``key -> sum of the totals of every smaller key``: the driver-side
    prefix sum that turns per-bucket totals into cross-bucket offsets for
    the range-bucketed global scans (``token_budget_select``,
    ``text.pack_sequences``). A NULL total (an all-NULL bucket) counts 0."""
    offsets, running = {}, 0
    for k in sorted(totals):
        offsets[k] = running
        running += totals[k] or 0
    return offsets


def offset_map_expr(offsets: dict, key_col: str) -> Column:
    """``coalesce(map(key -> offset)[key_col], 0)`` over a driver-built
    dict as ONE parsed SQL expression (a Column-API ``create_map`` chain
    costs a py4j round-trip per entry). Keys and offsets must be integral;
    offsets are BIGINT so running sums and ranks stay exact past 2^31."""
    if not offsets:
        return F.lit(0).cast("long")
    entries = ",".join(f"{int(k)},{int(v)}L" for k, v in offsets.items())
    return F.expr(f"coalesce(element_at(map({entries}), {quote_ident(key_col)}), 0L)")


def token_budget_select(
    df: DataFrame,
    budget_tokens: int,
    score_col: str,
    tokens_col: str,
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> DataFrame:
    """Greedy token-budget corpus selection: walk documents in
    ``(score_col DESC, id_col ASC)`` order and keep each document whose
    cumulative token count BEFORE it is still under ``budget_tokens`` (the
    last kept document may overshoot — the standard greedy fill for "best
    B tokens of pretraining data").

    Returns ``(id_col, score_col, tokens_col, cum_tokens)`` where
    ``cum_tokens`` is the inclusive running total in selection order.

    The global prefix sum is NOT a single-partition window (the
    one-reducer trap every naive `SUM() OVER (ORDER BY ...)` falls into):
    documents are range-bucketed on the score via approx quantile cuts,
    the within-bucket cumulative sum runs partitioned per bucket, and the
    cross-bucket offsets are a driver-side prefix sum over n_buckets
    scalars (bounded — same contract as the incremental max-ts scalar)
    broadcast back as a literal map. Bucket-boundary correctness needs
    only monotone cuts, never exact quantiles: equal scores always land in
    the same bucket, so the (score DESC, id) order is bucket-respecting
    regardless of where the approximate cuts fall.

    ``score_col`` must be non-null: NULL orders nulls-last under Spark's
    DESC but nulls-first under DuckDB's (silent cross-engine divergence),
    so null scores fail fast here instead of ranking arbitrarily.
    ``tokens_col`` holds integral token counts (the bucket offsets are
    BIGINT).
    """
    if budget_tokens <= 0:
        raise ValueError("budget_tokens must be positive")
    from pyspark.sql import Window

    base = df.select(id_col, score_col, tokens_col)
    cuts = [
        float(c)
        for c in base.stat.approxQuantile(
            score_col,
            [i / n_buckets for i in range(1, n_buckets)],
            0.01,
        )
    ]
    # width_bucket over DESCENDING score: bucket 0 = highest scores. Strict
    # '>' on the cut keeps equal scores together (cut-valued rows all fall
    # in the lower bucket). Built as ONE parsed expression — the Column-API
    # chain over 63 cuts measured ~0.4 s of py4j per call (round-10).
    bucket_sql = "0"
    sc = quote_ident(score_col)
    for c in sorted(set(cuts)):
        bucket_sql = (
            f"({bucket_sql} + CASE WHEN {sc} >"
            f" CAST('{c!r}' AS DOUBLE) THEN 0 ELSE 1 END)"
        )
    b = base.withColumn("_bkt", F.expr(bucket_sql))
    w = (
        Window.partitionBy("_bkt")
        .orderBy(F.col(score_col).desc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_cum = b.withColumn("_cum_in", F.sum(tokens_col).over(w))
    # One pass serves both the bucket totals and the null gate (no extra
    # scan): NULL score or NULL tokens would silently mis-rank (Spark and
    # DuckDB order NULLs oppositely under DESC) or silently drop rows
    # from every SUM — fail fast instead.
    totals = b.groupBy("_bkt").agg(
        F.sum(tokens_col).alias("t"),
        F.count_if(F.col(score_col).isNull() | F.col(tokens_col).isNull()).alias(
            "bad"
        ),
    ).collect()
    if sum(r["bad"] for r in totals) > 0:
        raise ValueError(
            f"{score_col}/{tokens_col} contain NULLs; selection order undefined"
        )
    offsets = exclusive_prefix({r["_bkt"]: r["t"] for r in totals})
    cum = (offset_map_expr(offsets, "_bkt") + F.col("_cum_in")).alias("cum_tokens")
    return (
        with_cum.select(id_col, score_col, tokens_col, cum)
        .filter(F.col("cum_tokens") - F.col(tokens_col) < F.lit(budget_tokens))
    )


def _prebucket_sql(value_col: str, core: int, tail_res: int, descending: bool) -> str:
    """Monotone DATA-INDEPENDENT fine-histogram bucket of an integral
    column: identity inside ``[-core, core]``, log2 tail at ``tail_res``
    buckets per octave outside — order-preserving (int->double casts and
    log2 are monotone non-strict; equal values always share a prebucket),
    so exact ntile semantics survive any coarsening of it. ``descending``
    negates the id so prebucket ascending == requested order."""
    v = quote_ident(value_col)
    p = (
        f"CASE WHEN {v} > {core} THEN {core} + CAST(floor(log2(CAST({v} AS DOUBLE) / {core}.0D) * {tail_res}) AS INT) "
        f"WHEN {v} < -{core} THEN -{core} - CAST(floor(log2(CAST(-{v} AS DOUBLE) / {core}.0D) * {tail_res}) AS INT) "
        f"ELSE CAST({v} AS INT) END"
    )
    return f"-({p})" if descending else p


def exact_ntile_hist_multi(
    df: DataFrame,
    n_tiles: int,
    specs: list[tuple[str, str, bool]],
    tiebreak_col: str,
    core: int = 4096,
    tail_res: int = 256,
) -> DataFrame:
    """EXACT ``ntile(n_tiles) OVER (ORDER BY value [DESC], tiebreak)``
    for every ``(value_col, out_col, descending)`` spec, without a global
    total order: TWO jobs and ZERO shuffles of the main frame — the scale
    path for quantile scoring (x98's RFM tiles above its size gate).

    ``NTILE`` is a pure function of a row's global rank and the total
    count (SQL's floor allocation: with n rows and k tiles the first
    ``n % k`` tiles hold ``n // k + 1`` rows). Data-dependent cuts would
    need an approxQuantile pass BEFORE rows could be counted per bucket;
    this form cuts on a DATA-INDEPENDENT monotone fine histogram instead
    (:func:`_prebucket_sql`: identity for |v| <= ``core``, log2 tail at
    ``tail_res``/octave above), so ONE pass both materializes the
    barrier AND collects exact ``(metric, prebucket)`` counts; the
    driver then locates each NTILE boundary rank inside the cumsums —
    no second scan before the output pass. Tiles are bit-identical to
    the window form:

    - prebucket -> tile is monotone, so a prebucket whose rank range
      lies inside one tile maps to it with a <= ``n_tiles - 1``-literal
      cut fold — no exchange, no window, no join;
    - only the <= ``n_tiles - 1`` prebuckets per metric that STRADDLE a
      boundary need within-group order: a tiny side subtree ranks JUST
      those rows by ``(value, tiebreak)`` and keeps the <= ``n_tiles-1``
      boundary THRESHOLD keys (the last ``(value, tiebreak)`` of each
      tile inside the group) as one array row per prebucket; the main
      frame left-broadcast-joins those <= ``n_tiles - 1`` rows per
      metric and resolves ``tile = first_tile + #{thresholds < key}``.
      The broadcast is always tiny regardless of how many rows tie —
      no fat override frame, no fallback gate.

    Driver state: occupied prebuckets per metric, bounded by
    ``2*core + 2*tail_res*64`` (~37k) scalars — the
    ``token_budget_select`` contract. Tie resolution bound: a prebucket
    is one exact integer value (unsplittable ties — the same bound every
    exact NTILE has) or a 1/``tail_res``-octave (~0.27% relative) value
    band in the log tail; a straddling group sorts within one task, so a
    boundary landing inside a billions-row tie group is the (inherent)
    worst case. Values must be integral (the RFM contract: days /
    counts / bp fixed-point) and non-null (NULL orders differently under
    Spark and DuckDB DESC; fail fast); ``tiebreak_col`` must be unique
    per row for a deterministic total order.
    """
    if n_tiles <= 0:
        raise ValueError("n_tiles must be positive")
    from pyspark.sql import Window

    b = df
    for vc, oc, desc in specs:
        b = b.withColumn(f"_pb_{oc}", F.expr(_prebucket_sql(vc, core, tail_res, desc)))
    # Barrier AFTER the prebucket projection: the checkpointed frame
    # carries the tiny _pb ints, so neither the output pass nor the
    # threshold subtrees re-evaluate the CASE/log2 mapping. localCheckpoint
    # (not persist): its blocks are ContextCleaner-collected when the frame
    # goes out of reference, while DataFrame.persist pins an entry in the
    # cache manager FOREVER unless the caller unpersists — repeated calls
    # (a bench loop, a scheduler tick) would leak the whole frame each time
    # (measured: x98 wall doubled by call 3). It is also the loud barrier:
    # a nondeterministic input fails on executor loss instead of silently
    # recomputing counts that disagree with the output pass.
    b = b.localCheckpoint(eager=False)
    stats = (
        b.select(
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(i).alias("m"),
                        F.col(f"_pb_{oc}").alias("pb"),
                    )
                    for i, (_, oc, _) in enumerate(specs)
                ])
            ).alias("s")
        )
        .groupBy("s.m", "s.pb")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    bad = sorted({specs[r["m"]][0] for r in stats if r["pb"] is None})
    if bad:
        raise ValueError(f"{bad} contain NULLs; ntile order undefined")

    mplans = []  # (vc, oc, desc, n, cuts, splits, first_tile)
    for i, (vc, oc, desc) in enumerate(specs):
        # NTILE boundary ranks -> which prebucket holds each boundary.
        # A prebucket whose range ENDS at a boundary is clean; one with
        # a boundary strictly inside must resolve thresholds (straddle).
        hist = sorted((r["pb"], r["c"]) for r in stats if r["m"] == i)
        n = sum(c for _, c in hist)
        q, m = divmod(n, n_tiles)
        ends = [
            (min(t, m) * (q + 1) + max(0, t - m) * q) if q else min(t, m)
            for t in range(1, n_tiles)
        ]
        cuts: list[int] = []
        splits: dict[int, list[int]] = {}  # pb -> in-group threshold ranks
        first_tile: dict[int, int] = {}  # pb -> tile of its first row
        lo, j = 0, 0
        for pb, c in hist:
            hi = lo + c
            while j < len(ends) and ends[j] <= hi:
                if ends[j] > lo:
                    cuts.append(pb)
                    if ends[j] < hi:
                        splits.setdefault(pb, []).append(ends[j] - lo)
                        first_tile.setdefault(pb, j + 1)
                elif cuts:  # duplicate boundary (empty tiles, n < k)
                    cuts.append(cuts[-1])
                j += 1
            lo = hi
        mplans.append((vc, oc, desc, n, cuts, splits, first_tile))

    def _key(vc, desc):
        v_ord = (-F.col(vc)).cast("long") if desc else F.col(vc).cast("long")
        return F.struct(v_ord.alias("v"), F.col(tiebreak_col).alias("tb"))

    # ONE union of the per-metric threshold subtrees: every join below
    # broadcasts the SAME frame, so the exchange canonicalizes to a
    # single computation (ReusedExchange) instead of one pass per metric
    sides = []
    for i, (vc, oc, desc, n, cuts, splits, first_tile) in enumerate(mplans):
        if not splits:
            continue
        split_map = ",".join(
            f"{int(pb)},array({','.join(str(int(r)) for r in rks)})"
            for pb, rks in splits.items()
        )
        sides.append(
            b.where(F.col(f"_pb_{oc}").isin(*splits.keys()))
            .select(
                F.lit(i).alias("_m"),
                F.col(f"_pb_{oc}").alias("_jpb"),
                _key(vc, desc).alias("_key"),
                F.row_number().over(
                    Window.partitionBy(f"_pb_{oc}").orderBy(
                        F.col(vc).desc() if desc else F.col(vc).asc(),
                        F.col(tiebreak_col).asc(),
                    )
                ).alias("_rk"),
            )
            .where(F.expr(
                f"array_contains(element_at(map({split_map}), `_jpb`), _rk)"
            ))
            .groupBy("_m", "_jpb")
            .agg(F.sort_array(F.collect_list("_key")).alias("_thrs"))
        )
    thr_all = None
    for s in sides:
        thr_all = s if thr_all is None else thr_all.unionByName(s)

    out = b
    for i, (vc, oc, desc, n, cuts, splits, first_tile) in enumerate(mplans):
        arr = ",".join(str(int(c)) for c in cuts)
        clean = (
            F.expr(
                f"1 + aggregate(array({arr}), 0, (acc, x) -> acc + IF(`_pb_{oc}` > x, 1, 0))"
            )
            if cuts
            else F.lit(1)
        )
        if not splits:
            out = out.withColumn(oc, clean.cast("int"))
            continue
        a = thr_all.alias(f"_thr_{oc}")
        out = out.join(
            F.broadcast(a),
            (out[f"_pb_{oc}"] == F.col(f"_thr_{oc}._jpb"))
            & (F.col(f"_thr_{oc}._m") == F.lit(i)),
            "left",
        )
        ft = offset_map_expr(first_tile, f"_pb_{oc}")
        straddled = ft + F.size(
            F.filter(F.col(f"_thr_{oc}._thrs"), lambda t: t < _key(vc, desc))
        )
        out = out.withColumn(
            oc,
            F.when(F.col(f"_thr_{oc}._thrs").isNotNull(), straddled)
            .otherwise(clean).cast("int"),
        )
        out = out.drop("_m").drop("_jpb").drop("_thrs")
    return out.drop(*[f"_pb_{oc}" for _, oc, _ in specs])


def gumbel_topk_sample(
    df: DataFrame,
    logweight_e6_col: str,
    n: int,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement via the Gumbel-top-k trick
    (Kool et al. 2019; equivalent to Efraimidis-Spirakis reservoir keys):
    keep the ``n`` rows maximizing ``log w + Gumbel noise`` — each row is
    selected with probability proportional to its weight, jointly without
    replacement. The resampling half of DSIR (Xie et al. 2023 pair
    importance weights WITH importance resampling).

    Engine determinism: the Gumbel variate derives from the
    cross-engine-exact ``h60`` uniform of ``(seed, id)`` and is quantized
    ``floor(-ln(-ln(u)) * 1e6)`` BEFORE the addition (verified bit-stable
    Spark-vs-DuckDB on 200k h60 samples — the lm_score floor-e6
    discipline), so both engines rank identical integers; ties break on
    id. Returns the selected rows plus their ``key_e6``.

    Scale: one scan + one TakeOrdered top-n — no shuffle; the noise is a
    pure Catalyst expression, no RNG state.
    """
    from .sketches import HASH_SPACE, h60

    if n <= 0:
        raise ValueError("n must be positive")
    u = (h60(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
         + F.lit(0.5)) / F.lit(float(HASH_SPACE))
    g_e6 = F.floor(-F.log(-F.log(u)) * F.lit(1_000_000.0)).cast("long")
    key = (F.col(logweight_e6_col).cast("long") + g_e6).alias("key_e6")
    return (
        df.select("*", key)
        .orderBy(F.desc("key_e6"), F.asc(id_col))
        .limit(n)
    )
