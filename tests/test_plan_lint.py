"""Engine-wide physical-plan lint: no query in the registry may plan a
Cartesian product or nested-loop join — the two shapes that are always
fatal at 100 TB — except the documented broadcast-tiny cases.

This is the sweep version of the per-query plan tests: every registered
query's physical plan is built (and, for the handful of eager queries,
executed at sf0.001) and scanned for forbidden operators.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

# Intentional cross-join shapes — every one is a broadcast of a ≤k-row
# frame (cluster centroids / probe cells), where the "nested loop" is k
# comparisons per row, i.e. the argmin scan k-means and IVF are DEFINED as.
INTENTIONAL_CROSS = {
    "q36_ann_ivf",   # ivf_assign: broadcast centroid table (k ≤ 10 rows)
    # (q74_kmeans no longer whitelisted: round-3 map-only assignment
    # folds the centroids in as literals — no join of any kind)
    "q33_embedding_neardup",  # the exact O(N²) dedup tier BY DEFINITION —
    # broadcast pair generation is its documented shape; corpora past
    # broadcast size use the LSH/IVF tiers (q28/q36) with the same verifier
    "q136_semantic_text_dedup",  # composes q33's pair tier (above) and
    # inherits its broadcast pair generation; the Jaccard annotation it
    # adds is |pairs|-sized equi-joins only
    "q41_multimodal_pipeline",  # attaches a broadcast 1-row global
    # aggregate to the per-mime rows — bounded by construction
    "q89_rarity_bands",  # attaches the broadcast 1-row corpus-max
    # bit-length to occurrence rows — bounded by construction
    "q95_multimodal_frames",  # joins two broadcast 1-row global
    # aggregates (resize totals × frame totals) — bounded by construction
    "q110_important_parts",  # attaches the broadcast 1-row national total
    # to the per-part aggregate (TPC-H Q11 scalar subquery) — bounded
    "q112_top_supplier",  # attaches the broadcast 1-row MAX(revenue)
    # scalar to the per-supplier aggregate (TPC-H Q15) — bounded
    "q162_type_weekday_contingency",  # attaches the broadcast 1-row grand
    # total N to the |types|×|days| cell frame — bounded by construction
    "q342_sequence_packing",  # joins the 1-row doc census with the
    # broadcast 1-row chunk census — bounded by construction
    "q352_theta_intersection",  # joins the 1-row exact-intersection
    # audit with the broadcast 1-row exact-union audit — bounded
    # by construction
    "q221_source_drift_matrix",  # crosses the two per-source TOTALS frames
    # (|sources|² pairs — broadcast-class by construction); the value-keyed
    # inner join carries all data-sized work
    "q223_audience_overlap",  # crosses the two per-type cohort-SIZE frames
    # (|event types|² pairs — bounded); intersections ride the user-keyed
    # equi-join
    "q225_decayed_popularity",  # attaches the broadcast 1-row week-span
    # scalar to the (type, week) grid — bounded by construction
    "q282_serpentine_pack_plan",  # attaches the broadcast 1-row total-load
    # scalar to the ≤R-row reducer census — bounded by construction
    "q314_louvain_move",  # crosses three broadcast 1-row aggregate legs
    # (move counts × modularity-before × modularity-after) into the single
    # output row — bounded by construction (the q283 one-job stance)
    "q319_louvain_contract",  # crosses five broadcast 1-row aggregate legs
    # (super census × merge count × modularity-before × -after) into the
    # single output row — bounded by construction (the q283/q314 stance)
    "q326_louvain_level2",  # same five broadcast 1-row legs, one
    # contraction level up — bounded by construction
    "q373_temperature_mixture",  # attaches the broadcast 1-row Σ√-share
    # total to the |domains|-row quota frame — bounded by construction
    "q379_lsh_recall_audit",  # all-pairs grid over the K=80 seeded
    # sample — ≤ 3160 pairs BY CONSTRUCTION (the q33 exact-audit
    # stance); the sample is limit-bounded before the cross
    "q380_dedup_threshold_sweep",  # attaches the broadcast 1-row corpus
    # count to the ≤6-row threshold sweep — bounded by construction
    "q365_louvain_converged",  # crosses three broadcast 1-row legs
    # (loop census × modularity-initial × modularity-final) into the
    # single output row — bounded by construction (the q314/q319 stance)
    "q226_keyword_search",  # attaches the broadcast 1-row corpus-max
    # bit-length to the |query|-row term frame — bounded by construction
    "q237_rrf_fusion",  # composes q226 (above) and inherits its broadcast
    # 1-row corpus-max scalar attach; everything the fusion adds is
    # rank-10-bounded equi-joins
    "q169_seasonality_index",  # attaches the broadcast 1-row annual total
    # to the 12-row monthly frame — bounded by construction
    "q174_benford_audit",  # attaches the broadcast 1-row grand total to
    # the 9-row digit frame — bounded by construction
    "q245_mixture_plan",  # attaches two broadcast 1-row global totals
    # (budget, then post-cap headroom) to the |sources|-row inventory —
    # bounded by construction
    "q258_collocation_lift",  # attaches the broadcast 1-row bigram
    # total N to the |V|²-bounded pair matrix — bounded by construction
    "q259_dataset_card",  # composes three 1-row aggregate legs by
    # broadcast crosses — bounded by construction
    "q289_local_heavy_hitters",  # attaches the broadcast 1-row grand
    # total N to the ≤K·S-row candidate frame — bounded by construction
    "q262_hll_set_algebra",  # |event types|² pair enumeration over the
    # 5-row type list (inequality join) — bounded by construction; all
    # register/user work rides equi-joins
    "q104_skew_profile",  # attaches the broadcast 1-row top-k aggregate
    # to the 1-row totals leg (4× , one per profiled keyspace) — bounded
    # by construction
    "q296_t_closeness",  # crosses the |classes| aggregate with the m-row
    # sensitive-domain aggregate (the EMD grid — bounded audit grains by
    # construction) and attaches the broadcast 1-row (N, m) scalar
    "q393_permutation_test",  # attaches the broadcast 1-row observed
    # statistic to the 64-row flip-statistic frame — bounded by
    # construction (B is a literal)
}

FORBIDDEN = ("CartesianProduct",)
FORBIDDEN_UNLESS_INTENTIONAL = ("BroadcastNestedLoopJoin", "CartesianProduct")

# Partition-less WindowExec ("No Partition Defined") funnels its whole
# input through ONE task — a scale-killer unless the input is bounded.
# Two bounded shapes are auto-detected and always allowed:
#   * the window's subtree contains a TakeOrderedAndProject / limit
#     (the global_topk device: rank over <= k rows), or
#   * the window rides a __rk_pid partition (the operators.ranks
#     two-phase devices — those are partitioned, so not flagged at all).
# Everything else must be enumerated here with a bounded-grain (or
# documented-scale-path) justification, exactly like INTENTIONAL_CROSS.
INTENTIONAL_GLOBAL_WINDOW = {
    # W3 dim surrogate keys: DATA-SIZED dims (customer/part/supplier/
    # store) assign sks via the two-phase ranks.global_row_number
    # (star_schema._sk_frame) — no single-task window at those grains.
    # The single-window _sk survives ONLY at genuinely bounded grains,
    # whitelisted below per query:
    "q15_dim_tempo",          # calendar grain — bounded by the date span
    "q30_dim_cliente",        # localidade snowflake sk only (nation, 25)
    "q32_fato_vendas",        # dim_tempo sk only (calendar grain)
    "q37_dim_fornecedor",     # localidade snowflake sk only (nation, 25)
    "q38_dim_categoria_cliente",  # category dim — 3 rows by construction
    "q39_promo_fact",         # promo-type dim — 3 rows by construction
    "q44_dim_loja",           # localidade lookup sk only (nation, 25)
    "q45_dim_promocao",       # promo-type dim — 3 rows by construction
    "q46_dim_localidade",     # nation grain — 25 rows
    # Bounded aggregate grains (day / bin / source / region / decile):
    "q69_revenue_share",      # global share total over the REGION grain (5)
    "q172_length_drift",      # L1 totals over the log2 length-bin grain
    "q201_cumulative_users",  # running sum over the DAY grain (calendar)
    "q216_budget_apportionment",  # largest-remainder over |sources| rows
    "q267_life_table",        # reverse running sum over the DAY grain
    "q272_gains_table",       # cumulative capture over the DECILE grain (10)
    "q275_rolling_correlation",   # 7-day range frame over the DAY grain
    "q282_serpentine_pack_plan",  # snake order over the <= R reducer census
    "q167_group_auc",         # offset cumulation over the |event_type|
                              # grain (≤5 rows); the row-sized rank is the
                              # two-phase operators.ranks global rank
}


def _bracket_groups(s: str) -> list[str]:
    out, depth, cur = [], 0, []
    for ch in s:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = []
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                out.append("".join(cur))
                continue
        if depth >= 1:
            cur.append(ch)
    return out


def _node_indent(line: str) -> int:
    return len(line) - len(line.lstrip(" :+-*()0123456789"))


def _partitionless_windows(plan: str) -> list[str]:
    """Partition-less Window nodes whose subtree has NO limit bound."""
    lines = plan.splitlines()
    hits = []
    for i, raw in enumerate(lines):
        stripped = raw.strip().lstrip("+-*: ").strip()
        if not stripped.startswith("Window "):
            continue
        groups = _bracket_groups(stripped)
        if len(groups) >= 3:
            continue  # has a partition spec
        if len(groups) == 2 and not (
            " ASC NULL" in groups[1] or " DESC NULL" in groups[1]
        ):
            continue  # second group is a partition spec (orderless window)
        # bounded if the window's SUBTREE (deeper-indented following
        # lines) contains a take-ordered / limit
        indent = _node_indent(raw)
        bounded = False
        for follow in lines[i + 1:]:
            if not follow.strip():
                break
            if _node_indent(follow) <= indent:
                break
            if ("TakeOrderedAndProject" in follow or "GlobalLimit" in follow
                    or "CollectLimit" in follow):
                bounded = True
                break
        if not bounded:
            hits.append(stripped[:160])
    return hits


@pytest.mark.parametrize("name", sorted(entrymod.queries().keys()))
def test_no_unbounded_join_shapes(spark, sf_dir, name):
    fn = entrymod.queries()[name]
    df = fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    bad = (
        FORBIDDEN if name in INTENTIONAL_CROSS else FORBIDDEN_UNLESS_INTENTIONAL
    )
    for op in bad:
        assert op not in plan, f"{name} plans {op}:\n{plan[:2000]}"
    if name not in INTENTIONAL_GLOBAL_WINDOW:
        hits = _partitionless_windows(plan)
        assert not hits, (
            f"{name} plans a partition-less, non-limit-bounded Window "
            f"(single-task global sort — use operators.ranks or whitelist "
            f"with a bounded-grain comment):\n" + "\n".join(hits)
        )
