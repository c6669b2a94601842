"""Mixture design: temperature sampling weights + token-budget epochs.

A multilingual / multi-source training run does not sample groups in
proportion to their raw size — the web is mostly English, and raw
proportions starve every tail language. The standard fix (Conneau &
Lample 2019 §3.1; mT5, Xue et al. 2021 §3) tempers the distribution:
``q_g ∝ p_g^alpha`` with ``alpha < 1`` flattening toward uniform.
Given the tempered shares and a global token budget, the second step
(Muennighoff et al. 2023, data-constrained scaling) turns shares into
per-group repetition factors ("epochs") and caps groups whose target
exceeds what repetition usefully buys.

Both operators aggregate the corpus to |groups| rows in ONE map-side-
combinable ``groupBy`` — the shuffle moves per-task partial sums, never
rows — and everything after is arithmetic on a table small enough to
broadcast or collect. At 100 TB the cost is exactly one scan.

Engine-portable arithmetic: ``alpha`` is restricted to {1, 1/2, 1/4},
computed via an EXACT integer square root (floor ± correction around
the double ``sqrt``, which is within 1 of truth for any BIGINT input
because IEEE sqrt is correctly rounded and the int→double conversion
error is < 2^-52 relative). No floats ever reach a result column, so
the DuckDB oracle reproduces every value bit-for-bit.

The reference has no mixture surface (it parses whatever directory it
is pointed at, /root/reference/main.py:223-251); this is a SURVEY §6
training-data tier over the same ``documents`` table as sampling.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

__all__ = ["epoch_plan", "isqrt", "materialize_plan",
           "mixture_summary", "temperature_weights",
           "unimax_allocation", "weights_from_mass"]

E6 = 1_000_000
# Pre-scale for the fixed-point roots: isqrt(n * E8) == sqrt(n) * 1e4,
# i.e. four decimal digits of sub-integer precision. Bound: n * E8 must
# fit BIGINT, so n <= 9.2e10 per group — far past any per-group doc or
# token count that would be tempered rather than sharded first.
_E8 = 100_000_000


def isqrt(x: Column) -> Column:
    """Exact ``floor(sqrt(x))`` for non-negative BIGINT ``x``.

    ``floor(sqrt(double(x)))`` is within ±1 of the true integer root
    (see module docstring), so one downward and one upward correction
    make it exact. The square comparisons are phrased as divisions —
    ``d*d <= x  <=>  d <= x div d`` for ``d >= 1`` — because near the
    top of BIGINT the square itself would overflow (ANSI mode errors).
    The DuckDB twin is the same three-step expression verbatim.
    """
    s0 = F.floor(F.sqrt(x.cast("double"))).cast("long")
    # s0*s0 > x  <=>  s0 > x div s0   (s0 >= 1; s0 == 0 only at x == 0,
    # where greatest(s0, 1) makes the guard a harmless 0 > 0)
    down = s0 - F.when(
        s0 > F.call_function("div", x, F.greatest(s0, F.lit(1))),
        F.lit(1)).otherwise(F.lit(0))
    d = down + 1
    return down + F.when(d <= F.call_function("div", x, d),
                         F.lit(1)).otherwise(F.lit(0))


def sql_isqrt(x: str) -> str:
    """DuckDB expression mirroring :func:`isqrt` step for step."""
    s0 = f"CAST(FLOOR(SQRT(CAST(({x}) AS DOUBLE))) AS BIGINT)"
    down = (f"({s0} - CASE WHEN {s0} > ({x}) // GREATEST({s0}, 1) "
            f"THEN 1 ELSE 0 END)")
    return (f"({down} + CASE WHEN ({down}+1) <= ({x}) // ({down}+1) "
            f"THEN 1 ELSE 0 END)")


def _tempered(mass: Column, alpha: str) -> Column:
    """Fixed-point ``mass^alpha`` for alpha in {'1', '0.5', '0.25'}.

    Normalization cancels any constant scale, so each branch picks the
    scale that maximizes retained precision: identity for alpha=1,
    sqrt(m)*1e4 for 1/2, and m^0.25*1e6 for 1/4 (the inner root's 1e4
    scale is re-inflated by _E8 before the outer root).
    """
    if alpha == "1":
        return mass
    if alpha == "0.5":
        return isqrt(mass * F.lit(_E8))
    if alpha == "0.25":
        return isqrt(isqrt(mass * F.lit(_E8)) * F.lit(_E8))
    raise ValueError(f"alpha must be one of '1', '0.5', '0.25': {alpha!r}")


def temperature_weights(df: DataFrame, group_col: str = "lang",
                        size_col: str | None = None,
                        alpha: str = "0.5") -> DataFrame:
    """Per-group tempered sampling shares.

    Returns ``(group, n_docs, mass, raw_share_e6, tempered_share_e6)``
    where ``mass`` is ``sum(size_col)`` (or the doc count when
    ``size_col`` is None), ``raw_share_e6 = mass*1e6 div total`` and
    ``tempered_share_e6 = mass^alpha * 1e6 div sum(mass^alpha)`` —
    alpha < 1 provably moves every share toward 1/|groups|.

    One corpus scan into a |groups|-row aggregate; the total-mass side
    is a single row joined by broadcast cross join, so no second pass
    over data ever happens.
    """
    mass = (F.count("*") if size_col is None
            else F.sum(F.col(size_col)).cast("long"))
    per = df.groupBy(F.col(group_col).alias("group")).agg(
        F.count("*").alias("n_docs"), mass.alias("mass"))
    return weights_from_mass(per, alpha=alpha)


def weights_from_mass(per: DataFrame, alpha: str = "0.5") -> DataFrame:
    """Shares from a pre-aggregated ``(group, n_docs, mass)`` table —
    the second half of :func:`temperature_weights`, exposed so an
    incrementally-maintained mass state (streaming.incremental.
    stream_group_mass keeps it as a count/sum streaming aggregation)
    yields the exact same shares as a batch pass over everything ever
    seen."""
    staged = per.withColumn("w", _tempered(F.col("mass"), alpha))
    tot = staged.agg(F.sum("mass").alias("_tm"), F.sum("w").alias("_tw"))
    return (staged.crossJoin(F.broadcast(tot))
            .select("group", "n_docs", "mass",
                    F.expr(f"mass * {E6} div _tm").alias("raw_share_e6"),
                    F.expr(f"w * {E6} div _tw").alias("tempered_share_e6")))


def epoch_plan(weights: DataFrame, budget_tokens: int,
               max_epochs_e6: int = 4 * E6) -> DataFrame:
    """Token-budget allocation: shares → per-group repetition factors.

    Input is :func:`temperature_weights` output where ``mass`` counts
    TOKENS (pass ``size_col``). For each group:

    - ``target_tokens = budget * tempered_share_e6 div 1e6`` — what the
      mixture asks for;
    - ``epochs_e6 = target * 1e6 div mass`` — how many passes over the
      group's unique tokens that demands (1e6 == one epoch);
    - ``capped`` when epochs exceed ``max_epochs_e6`` (default 4
      epochs, the point past which repetition stops buying loss per
      Muennighoff et al. 2023 fig. 3), in which case
      ``granted_tokens = mass * max_epochs_e6 div 1e6`` — the shortfall
      is visible as ``target_tokens - granted_tokens``.

    All driver-free arithmetic on a |groups|-row table. Numeric bound:
    ``budget_tokens * share`` and ``target * 1e6`` both stay in BIGINT
    for budgets up to 9.2e12 tokens; raise in fixed point past that.
    """
    if budget_tokens * E6 >= 2 ** 63:
        raise ValueError("budget_tokens past BIGINT fixed-point headroom "
                         "(>= 9.2e12); plan in larger token units")
    tgt = F.expr(f"{int(budget_tokens)} * tempered_share_e6 div {E6}")
    out = weights.withColumn("target_tokens", tgt).withColumn(
        "epochs_e6", F.expr(f"target_tokens * {E6} div mass"))
    return out.select(
        "group", "mass", "tempered_share_e6", "target_tokens",
        F.least(F.col("epochs_e6"), F.lit(int(max_epochs_e6))).alias(
            "epochs_e6"),
        (F.col("epochs_e6") > max_epochs_e6).alias("capped"),
        F.when(F.col("epochs_e6") > max_epochs_e6,
               F.expr(f"mass * {int(max_epochs_e6)} div {E6}"))
         .otherwise(F.col("target_tokens")).alias("granted_tokens"))


def materialize_plan(df: DataFrame, plan: DataFrame,
                     group_col: str = "lang", key_col: str = "doc_id",
                     salt: str = "") -> DataFrame:
    """Emit the resampled corpus an :func:`epoch_plan` describes.

    Each row of group ``g`` (with granted ``epochs_e6``) appears
    ``epochs_e6 div 1e6`` times, plus one more iff its deterministic
    md5 draw ``u`` (60 digest bits reduced mod 1e6) falls under the
    fractional part — so the group's realized token count converges on
    ``granted_tokens`` while every copy decision is a pure function of
    ``(key, salt)``: re-runs, repartitions, and engine swaps reproduce
    the corpus bit-for-bit (same discipline as
    ``sampling.resample_by_group``, which takes literal float weights;
    this takes the |groups|-row PLAN DataFrame, closing the loop
    weights → budget → corpus). Output = input columns + ``copy``
    (1..n); groups absent from the plan drop (inner join — the plan IS
    the corpus definition).

    Scale: the plan broadcasts (|groups| rows), the fan-out is a
    ``sequence`` explode inside the scan stage, and nothing shuffles —
    repeating a 100 TB slice 2.4× costs one read pass plus the write.
    """
    p = plan.select(F.col("group").alias(group_col), "epochs_e6")
    u = (F.conv(F.substring(
            F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt))),
            1, 15), 16, 10).cast("long") % F.lit(E6))
    n = (F.expr(f"epochs_e6 div {E6}")
         + (u < F.col("epochs_e6") % E6).cast("long"))
    return (df.join(F.broadcast(p), group_col)
            .withColumn("_n", n)
            .where(F.col("_n") > 0)
            .withColumn("copy",
                        F.explode(F.sequence(F.lit(1).cast("long"),
                                             F.col("_n"))))
            .drop("_n", "epochs_e6"))


def unimax_allocation(per: DataFrame, budget_tokens: int,
                      max_epochs_e6: int = 4 * E6) -> DataFrame:
    """UniMax water-filling allocation (Chung et al. 2023, "UniMax:
    Fairer and More Effective Language Sampling for Large-Scale
    Multilingual Pretraining"): distribute ``budget_tokens`` as
    UNIFORMLY as possible across groups subject to a per-group
    repetition cap — the principled fix for ``epoch_plan``'s capped
    shortfall, which temperature mixing silently drops instead of
    redistributing to groups with headroom.

    Input is a pre-aggregated ``(group, n_docs, mass)`` table (mass in
    TOKENS — the :func:`temperature_weights` aggregate). Each group's
    ceiling is ``cap = mass * max_epochs_e6 div 1e6``; water-filling
    gives every group ``min(cap, L)`` where the level L spends the
    whole budget: groups whose cap binds take their cap, the remainder
    splits EQUALLY among the rest. Closed form on the sorted cap
    table: with caps ascending (k = rank, P_k = prefix sum), group k
    binds iff ``cap_k·(n−k+1) + P_{k−1} <= B``; j = the last binding
    rank; ``L = (B − P_j) div (n − j)``.

    Returns ``(group, mass, cap_tokens, allocated_tokens, epochs_e6,
    capped)``. Invariants (property-tested): Σ allocated ≤ B with
    deficit < n−j (integer split remainder), allocated ≤ cap
    everywhere, all uncapped groups receive the identical level L, and
    when Σ cap ≤ B every group is capped (budget exceeds the corpus's
    useful repetition ceiling).

    Shape: windows run over the |groups|-row table only; the corpus
    was consumed by the ONE aggregate that produced ``per``. Headroom:
    ``cap·(n−k+1)`` needs cap·n < 9.2e18 — groups are languages or
    sources (hundreds), never high-cardinality keys. Streaming face
    for free: ``streaming.stream_group_mass``'s published state has
    exactly this input shape, so the allocation over a growing corpus
    is the same call on the state table (test-pinned equality).
    """
    from pyspark.sql import Window

    if budget_tokens * E6 >= 2 ** 63:
        raise ValueError("budget_tokens past BIGINT fixed-point "
                         "headroom (>= 9.2e12); plan in larger units")
    w = (Window.orderBy(F.col("cap").asc(), F.col("group").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wall = (Window.orderBy(F.col("cap").asc(), F.col("group").asc())
            .rowsBetween(Window.unboundedPreceding,
                         Window.unboundedFollowing))
    t = per.select(
        "group", "mass",
        F.expr(f"mass * {int(max_epochs_e6)} div {E6}").cast("long")
        .alias("cap"))
    t = t.select(
        "group", "mass", "cap",
        F.row_number().over(
            Window.orderBy(F.col("cap").asc(), F.col("group").asc()))
        .cast("long").alias("k"),
        F.sum("cap").over(w).cast("long").alias("P"),
        F.count("*").over(wall).cast("long").alias("n"))
    b = int(budget_tokens)
    t = t.withColumn(
        "bind", F.expr(f"cap * (n - k + 1) + (P - cap) <= {b}"))
    t = t.select(
        "*",
        F.coalesce(F.max(F.when(F.col("bind"), F.col("k"))).over(wall),
                   F.lit(0)).alias("j"),
        F.coalesce(F.max(F.when(F.col("bind"), F.col("P"))).over(wall),
                   F.lit(0)).alias("Pj"))
    alloc = F.when(
        F.col("k") <= F.col("j"), F.col("cap")).otherwise(
        F.expr(f"({b} - Pj) div nullif(n - j, 0)"))
    return (t.withColumn("allocated_tokens", alloc.cast("long"))
            .select("group", "mass", F.col("cap").alias("cap_tokens"),
                    "allocated_tokens",
                    F.expr(f"allocated_tokens * {E6} div mass")
                    .cast("long").alias("epochs_e6"),
                    (F.col("k") <= F.col("j")).alias("capped")))


def mixture_summary(alloc: DataFrame,
                    tokens_col: str = "allocated_tokens") -> DataFrame:
    """Diversity summary of a mixture/allocation table: one row
    ``(n_groups, total_tokens, max_share_e6, entropy_e3,
    effective_groups_e3)`` — the fairness numbers a mixture design is
    judged by (UniMax §4 reports exactly these): Shannon entropy of
    the token shares in base-2 e3 fixed point, and the "effective
    number of groups" 2^H (perplexity of the mixture), so a corpus
    that is 99% English scores effective ≈ 1 however many languages
    it nominally contains.

    Integer arithmetic end to end, reusing the piecewise-linear base-2
    log (``corpstats.LOG2_E3``): ``H = Σ tok_g·(log2(T) − log2(tok_g))
    div T`` in e3 units, and ``2^H`` splits into an exact integer shift
    for the whole part times a linear-interpolated fractional part —
    the same engine-portable discipline as every fixed-point tier
    (DuckDB replays it bit-for-bit). Zero-token groups contribute
    nothing (lim x·log x = 0). Shape: one aggregate over the
    |groups|-row table.
    """
    from rag_document_parser_spark.operators.corpstats import LOG2_E3

    g = alloc.select(F.col(tokens_col).cast("long").alias("tok"))
    tot = g.agg(F.sum("tok").cast("long").alias("T"),
                F.count("*").cast("long").alias("n_groups"),
                F.max("tok").cast("long").alias("mx"))
    ent = (g.crossJoin(F.broadcast(tot))
           .where(F.col("tok") > 0)
           .select(
               "T", "n_groups", "mx",
               F.expr(f"tok * ({LOG2_E3.format(n='T')} - "
                      f"{LOG2_E3.format(n='tok')})").cast("long")
               .alias("_h"))
           .groupBy("T", "n_groups", "mx")
           .agg(F.sum("_h").cast("long").alias("_hs")))
    # 2^(H_e3/1000) = 2^whole * 2^frac; 2^frac linearly interpolated
    # between 1 and 2 (the exact inverse of the piecewise-linear log)
    return ent.select(
        F.col("n_groups"),
        F.col("T").alias("total_tokens"),
        F.expr("mx * 1000000 div T").cast("long").alias("max_share_e6"),
        F.expr("_hs div T").cast("long").alias("entropy_e3"),
        F.expr("""
          shiftleft(1L, cast(_hs div T div 1000 as int)) *
          (1000 + (_hs div T) % 1000)
        """).cast("long").alias("effective_groups_e3"))
