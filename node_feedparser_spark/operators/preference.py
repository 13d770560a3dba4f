"""Preference-data preparation — pairwise votes into training signal.

A transcript corpus that feeds pretraining also feeds *preference*
optimization (RLHF reward modeling, DPO): the pipeline must turn scored
candidate responses and noisy pairwise votes into clean training pairs and
per-player ability scores.  The reference's analog is its positional
conflict resolution — first value wins per field
(/root/reference/lib/feedparser.js:440-458) and fixed precedence chains
(lib/feedparser.js:389-401) pick ONE value per slot; preference
aggregation generalizes that to picking a *ranking* from many conflicting
pairwise judgements, the same move truth_fusion makes for claim conflicts.

Two operators:

- ``dpo_pairs`` — per-prompt chosen/rejected pair mining from scored
  candidates (the input shape of Rafailov et al. 2023, "Direct Preference
  Optimization"): best-vs-worst per prompt with a minimum-margin screen,
  deterministic tie-breaks, prompts with fewer than two distinct
  candidates dropped.

- ``bradley_terry`` — Bradley-Terry (1952) ability estimation from
  pairwise win counts via Hunter's (2004) MM fixed point,

      a_i  <-  W_i / sum_j ( n_ij / (a_i + a_j) )

  unrolled a fixed ``n_iter`` times as a static join chain (the
  graph_algo.pagerank discipline), then normalized once to sum 1.  The
  reward-model data-aggregation face: many annotators' pairwise votes
  become one consistent per-response (or per-model) strength table.

Scale shape: ``dpo_pairs`` is one shuffle on the prompt key — both window
passes and the final agg share the partitioning, and every per-prompt
group is candidate-list-sized.  ``bradley_terry`` first collapses the
comparison stream to per-ordered-pair counts (map-side combinable; the
big table is touched exactly once), after which the pair table is
players²-bounded and the ability vector is one row per player —
broadcast back onto pairs each round exactly like truth_fusion's trust
table, so nothing corpus-sized ever re-shuffles.  Players are a
dimension by contract (models / annotator cohorts / response buckets),
not corpus rows.

Portability: intermediate abilities and denominator terms are rounded to
9 dp (module discipline, see operators/fusion.py) so the DuckDB oracle —
which replays the identical unrolled arithmetic — agrees bit-for-bit
after the final 6 dp rounding; margins and scores stay in integer cents
end-to-end so no float comparison ever decides a pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: decimal places for intermediate MM values — enough that the final 6 dp
#: rounding is stable across engines' float-sum orders.
_ROUND = 9


def dpo_pairs(
    cands: DataFrame,
    prompt: str = "prompt_id",
    cand: str = "cand_id",
    score: str = "score",
    min_margin: int = 1,
) -> DataFrame:
    """Mine per-prompt (chosen, rejected) preference pairs from scored
    candidates.

    For each prompt: chosen = highest score (ties -> smallest cand id),
    rejected = lowest score (ties -> largest cand id).  Prompts whose
    best and worst candidate coincide (a single distinct candidate) are
    dropped, as are pairs with ``chosen_score - rejected_score``
    (the margin) below ``min_margin`` — margin-0 pairs teach a DPO loss
    nothing and margin thresholds are the standard noise screen.

    ``score`` must be integer-valued (cents discipline) so margins and
    tie decisions are exact in every engine, and must be FUNCTIONAL on
    (prompt, cand): input rows are deduplicated to distinct
    (prompt, cand, score), so an exact duplicate row is one candidate,
    but the same candidate carrying two DIFFERENT scores survives as two
    ranked rows — it can then rank as both chosen and rejected and the
    ``chosen != rejected`` filter drops the whole prompt even when other
    distinct candidates exist.  Callers with conflicting re-scores must
    resolve them first (e.g. ``groupBy(prompt, cand).agg(max(score))``);
    this operator does not pick a winner silently.

    Returns (prompt, chosen, rejected, chosen_score, rejected_score,
    margin, n_cands) with the caller's column names for prompt.
    """
    c = cands.select(
        F.col(prompt).alias("prompt_id"),
        F.col(cand).alias("cand_id"),
        F.col(score).cast("long").alias("score"),
    ).distinct()

    # Both rankings and the candidate count ride ONE hash partitioning on
    # the prompt key (two in-partition sorts, zero extra exchanges).
    part = Window.partitionBy("prompt_id")
    w_top = part.orderBy(F.desc("score"), F.asc("cand_id"))
    w_bot = part.orderBy(F.asc("score"), F.desc("cand_id"))
    ranked = c.select(
        "prompt_id",
        "cand_id",
        "score",
        F.row_number().over(w_top).alias("rn_top"),
        F.row_number().over(w_bot).alias("rn_bot"),
        F.count(F.lit(1)).over(part).alias("n_cands"),
    )
    # The chosen and rejected rows collapse per prompt in one hash agg
    # that reuses the window's partitioning.  A prompt with one candidate
    # has the SAME row as top and bottom -> filtered by cand inequality.
    agg = (
        ranked.groupBy("prompt_id")
        .agg(
            F.max(
                F.when(
                    F.col("rn_top") == 1, F.struct("cand_id", "score")
                )
            ).alias("ch"),
            F.max(
                F.when(
                    F.col("rn_bot") == 1, F.struct("cand_id", "score")
                )
            ).alias("rj"),
            F.max("n_cands").alias("n_cands"),
        )
    )
    return (
        agg.select(
            F.col("prompt_id").alias(prompt),
            F.col("ch.cand_id").alias("chosen"),
            F.col("rj.cand_id").alias("rejected"),
            F.col("ch.score").alias("chosen_score"),
            F.col("rj.score").alias("rejected_score"),
            (F.col("ch.score") - F.col("rj.score")).alias("margin"),
            F.col("n_cands").cast("long").alias("n_cands"),
        )
        .filter(F.col("chosen") != F.col("rejected"))
        .filter(F.col("margin") >= int(min_margin))
    )


def pairwise_counts(
    comparisons: DataFrame,
    winner: str = "winner",
    loser: str = "loser",
) -> DataFrame:
    """Collapse a comparison stream to ordered-pair statistics: one row
    per ordered (player, opponent) with ``wins`` (player over opponent)
    and ``n`` (total comparisons either way).  Self-comparisons are
    dropped.  This is the ONLY pass over the corpus-sized input — one
    map-side-combinable count; everything downstream is players²-bounded.
    """
    w = (
        comparisons.select(
            F.col(winner).alias("player"), F.col(loser).alias("opponent")
        )
        .filter(F.col("player") != F.col("opponent"))
        .groupBy("player", "opponent")
        .agg(F.count(F.lit(1)).cast("long").alias("wins"))
    )
    # Symmetrize: every observed pair appears in both orders (wins=0 for
    # the direction never seen), then each ordered row picks up the
    # reverse direction's wins to form n.  `w` is pair-bounded — these
    # self-joins never touch the comparison stream again.
    rev = w.select(
        F.col("opponent").alias("player"),
        F.col("player").alias("opponent"),
        F.lit(0).cast("long").alias("wins"),
    )
    ordered = (
        w.unionByName(rev)
        .groupBy("player", "opponent")
        .agg(F.sum("wins").cast("long").alias("wins"))
    )
    against = ordered.select(
        F.col("opponent").alias("player"),
        F.col("player").alias("opponent"),
        F.col("wins").alias("wins_against"),
    )
    return (
        ordered.join(against, ["player", "opponent"])
        .withColumn("n", (F.col("wins") + F.col("wins_against")).cast("long"))
        .drop("wins_against")
    )


def bradley_terry(
    comparisons: DataFrame,
    winner: str = "winner",
    loser: str = "loser",
    n_iter: int = 2,
) -> DataFrame:
    """Estimate Bradley-Terry abilities from pairwise comparisons.

    ``comparisons``: one row per decided comparison (winner, loser) —
    ties excluded upstream by contract (the standard BT treatment; the
    caller may also pre-weight by repeating rows).  Runs ``n_iter``
    rounds of Hunter's MM update with abilities initialized to 1.0, then
    normalizes once to sum 1.  Returns one row per player:
    (player, wins, n_comparisons, ability) with ability at 6 dp.

    Players whose win count is zero keep ability 0 after normalization's
    numerator (W_i = 0 -> a_i = 0): the MM update maps them there in
    round one and they stay — the correct ML boundary estimate.

    The ability vector is one row per player (dimension-sized by
    contract) and is broadcast onto the pair table each round; per-pair
    terms are rounded to 9 dp before the per-player sum (which is
    rounded again at 9 dp — the module's aggregate-rounding discipline)
    so the DuckDB oracle replays the arithmetic bit-for-bit.

    The pair table and each round's ability vector are eagerly
    ``localCheckpoint``-ed (graph_algo's iterative-lineage discipline):
    the MM unroll references each of them several times, and without the
    truncation the corpus-scan subtree re-appears exponentially in the
    static plan (~340 exchanges at n_iter=2; ReusedExchange would dedupe
    the runtime but analysis cost alone is corpus-shaped).  Both frames
    are players²- / players-bounded, so the checkpoints are trivial.
    """
    pairs = pairwise_counts(comparisons, winner, loser).localCheckpoint()

    totals = pairs.groupBy("player").agg(
        F.sum("wins").cast("long").alias("wins"),
        F.sum("n").cast("long").alias("n_comparisons"),
    )
    ability = totals.select("player").withColumn(
        "ability", F.lit(1.0)
    )

    for _ in range(int(n_iter)):
        a_self = ability.select(
            F.col("player"), F.col("ability").alias("a_i")
        )
        a_opp = ability.select(
            F.col("player").alias("opponent"), F.col("ability").alias("a_j")
        )
        terms = (
            pairs.join(F.broadcast(a_self), "player")
            .join(F.broadcast(a_opp), "opponent")
            .withColumn(
                "term",
                F.round(
                    F.col("n") / (F.col("a_i") + F.col("a_j")), _ROUND
                ),
            )
        )
        denom = terms.groupBy("player").agg(
            F.round(F.sum("term"), _ROUND).alias("denom")
        )
        ability = (
            totals.join(denom, "player")
            .select(
                "player",
                F.round(F.col("wins") / F.col("denom"), _ROUND).alias(
                    "ability"
                ),
            )
            .localCheckpoint()
        )

    norm = ability.agg(F.round(F.sum("ability"), _ROUND).alias("z"))
    return (
        totals.join(ability, "player")
        .join(F.broadcast(norm))
        .select(
            "player",
            "wins",
            "n_comparisons",
            F.round(F.col("ability") / F.col("z"), 6).alias("ability"),
        )
    )


# ---------------------------------------------------------------------------
# Elo: order-dependent sequential rating
# ---------------------------------------------------------------------------

#: classic Elo parameters (Elo 1978; chess federation defaults)
ELO_K = 32.0
ELO_SCALE = 400.0
ELO_BASE = 1500.0


def _r6(x: float) -> float:
    """HALF_UP at 6 dp — mirrors Spark F.round (Python round is banker's)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def elo_fold(
    rows: list[tuple[int, str, str]],
    k: float = ELO_K,
    scale: float = ELO_SCALE,
    base: float = ELO_BASE,
    state: dict | None = None,
) -> dict:
    """Sequential Elo fold — THE semantics; elo_ratings runs it per pool.

    ``rows``: (seq, winner, loser) tuples; processed in ascending seq with
    (winner, loser) as the tie-break so duplicate seqs inside ONE call stay
    deterministic.  ``seq`` MUST be globally unique per pool — a strict
    event id, not merely a tie-broken ordering key.  ``last_seq`` advances
    to max(seq) over ALL rows seen (including skipped self-comparisons and
    replays), and the replay guard drops anything at or below it; two rows
    sharing a seq are therefore both applied when they arrive in the same
    call but the second is silently dropped when a call boundary splits
    them.  With unique seqs the fold is split-invariant; with duplicate
    seqs it is not.
    ``state``: optional {"ratings": {player: rating}, "games": {player: n},
    "wins": {player: n}, "last_seq": int} carried across calls.  Rows at
    or below last_seq are ignored — a replayed batch cannot double-apply.

    After each comparison the standard update runs with ratings rounded
    HALF_UP at 6 dp (expected score E = 1/(1+10^((r_l-r_w)/scale)),
    winner += k*(1-E), loser -= k*(1-E)) — rounding per step pins the
    float path to one canonical value sequence on every engine.
    """
    st = state if state is not None else {}
    ratings: dict = st.setdefault("ratings", {})
    games: dict = st.setdefault("games", {})
    wins: dict = st.setdefault("wins", {})
    st.setdefault("last_seq", -1)
    for seq, w, l in sorted(rows):
        if seq <= st["last_seq"] or w == l:
            continue
        rw = ratings.get(w, base)
        rl = ratings.get(l, base)
        e_w = 1.0 / (1.0 + 10.0 ** ((rl - rw) / scale))
        ratings[w] = _r6(rw + k * (1.0 - e_w))
        ratings[l] = _r6(rl - k * (1.0 - e_w))
        games[w] = games.get(w, 0) + 1
        games[l] = games.get(l, 0) + 1
        wins[w] = wins.get(w, 0) + 1
        wins.setdefault(l, 0)
    if rows:
        st["last_seq"] = max(st["last_seq"], max(r[0] for r in rows))
    return st


def elo_ratings(
    comparisons: DataFrame,
    pool: str = "pool",
    seq: str = "seq",
    winner: str = "winner",
    loser: str = "loser",
    k: float = ELO_K,
    scale: float = ELO_SCALE,
    base: float = ELO_BASE,
) -> DataFrame:
    """Per-pool sequential Elo ratings — the ORDER-DEPENDENT counterpart
    of bradley_terry: each comparison moves two ratings immediately, so
    early results matter less than late ones (rating drift, momentum) and
    no closed-form or SQL replay exists (declared rows-only at the
    driver; pinned by the fold hand cases instead).

    Pools (leagues / prompt domains / annotator cohorts) are independent
    rating universes: the fold runs per pool inside one applyInPandas —
    inherently sequential WITHIN a pool (that is Elo's semantics), scaled
    ACROSS pools by the grouping.  A pool's comparison history must fit
    one task by contract (bounded players and games per pool).

    Returns (pool, player, rating, n_games, wins).
    """
    import pandas as pd

    out_schema = (
        f"{pool} string, player string, rating double, "
        "n_games long, wins long"
    )

    def _per_pool(pdf: "pd.DataFrame") -> "pd.DataFrame":
        rows = list(
            zip(
                pdf[seq].astype("int64"),
                pdf[winner].astype(str),
                pdf[loser].astype(str),
            )
        )
        st = elo_fold(rows, k=k, scale=scale, base=base)
        players = sorted(st["ratings"])
        return pd.DataFrame(
            {
                pool: [pdf[pool].iloc[0]] * len(players),
                "player": players,
                "rating": [st["ratings"][p] for p in players],
                "n_games": [st["games"][p] for p in players],
                "wins": [st["wins"][p] for p in players],
            }
        )

    return (
        comparisons.select(pool, seq, winner, loser)
        .groupBy(pool)
        .applyInPandas(_per_pool, schema=out_schema)
    )


def reward_whiten(
    cands: DataFrame,
    prompt: str = "prompt_id",
    cand: str = "cand_id",
    score: str = "score",
) -> DataFrame:
    """Per-prompt reward standardization (advantage whitening) — the
    normalization step between reward scoring and policy optimization:
    each candidate's score becomes its z-score within the prompt group,
    removing per-prompt difficulty offsets so the optimizer sees
    comparable advantages across prompts (the standard PPO/GRPO
    per-group whitening).

    Arithmetic stays EXACT until the last two ops: with integer scores
    (cents discipline) the group stats are exact long sums (n, s1=Σx,
    s2=Σx²) and

        z = (n·x − s1) / sqrt(n·s2 − s1²)

    is algebraically (x − μ)/σ_pop with every operand an exact long —
    one IEEE sqrt and one division per row, then 6 dp rounding, so the
    DuckDB oracle matches bit-for-bit (sqrt is correctly rounded in both
    engines).  Zero-variance groups (all candidates scored equal) whiten
    to 0.0 by convention; singleton prompts too (their z is undefined —
    emitting 0 keeps them usable as unweighted examples).  The caller
    keeps n·s2 within long range by contract (cents-scale scores and
    bounded candidate lists — the dpo_pairs contract).

    Scale shape: one shuffle on the prompt key — a groupBy for the three
    exact sums, broadcast-sized per-prompt rows joined back on the same
    partitioning.  Returns (prompt, cand, score, z_score, n_cands).
    """
    c = cands.select(
        F.col(prompt).alias("prompt_id"),
        F.col(cand).alias("cand_id"),
        F.col(score).cast("long").alias("score"),
    ).distinct()
    stats = c.groupBy("prompt_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("score").cast("long").alias("s1"),
        F.sum(F.col("score") * F.col("score")).cast("long").alias("s2"),
    )
    var_n2 = F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")
    z = F.when(var_n2 <= 0, F.lit(0.0)).otherwise(
        F.round(
            (F.col("n") * F.col("score") - F.col("s1"))
            / F.sqrt(var_n2.cast("double")),
            6,
        )
    )
    return c.join(stats, "prompt_id").select(
        F.col("prompt_id").alias(prompt),
        F.col("cand_id").alias(cand),
        "score",
        z.alias("z_score"),
        F.col("n").alias("n_cands"),
    )


def pass_at_k(
    outcomes: DataFrame,
    k: int,
    prompt: str = "prompt_id",
    passed: str = "passed",
) -> DataFrame:
    """Unbiased pass@k per prompt (Chen et al. 2021, "Evaluating Large
    Language Models Trained on Code", eq. 1): given n sampled candidates
    of which c passed,

        pass@k = 1 − C(n−c, k) / C(n, k)
               = 1 − Π_{i=0..k−1} (n−c−i) / (n−i)

    — the probability that at least one of k drawn candidates passes.
    The product form never materializes a binomial (no overflow at any
    n) and each factor is one exact-integer ratio; the running product
    is rounded to 9 dp per factor so the DuckDB oracle — which unrolls
    the same k factors — matches bit-for-bit after the final 6 dp.
    Prompts with n < k get NULL (the estimator is undefined; emitting a
    number would silently overstate coverage).

    ``passed`` is any column whose truthiness marks a passing candidate
    (cast to boolean).  Scale shape: ONE map-side-combinable count
    aggregation on the prompt key; the k-factor product is a row-local
    expression over (n, c) — no joins, no windows, no iteration.

    Returns (prompt, n_candidates, n_passed, pass_at_k).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    counts = (
        outcomes.select(
            F.col(prompt).alias("prompt_id"),
            F.col(passed).cast("boolean").alias("ok"),
        )
        .groupBy("prompt_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("ok"), 1).otherwise(0)).cast("long").alias("c"),
        )
    )
    prod = F.lit(1.0)
    for i in range(int(k)):
        prod = F.round(
            prod
            * F.greatest(F.col("n") - F.col("c") - i, F.lit(0))
            / (F.col("n") - i),
            _ROUND,
        )
    return counts.select(
        F.col("prompt_id").alias(prompt),
        F.col("n").alias("n_candidates"),
        F.col("c").alias("n_passed"),
        F.when(F.col("n") >= int(k), F.round(1.0 - prod, 6)).alias(
            "pass_at_k"
        ),
    )
