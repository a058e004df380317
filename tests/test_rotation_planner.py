"""The rotation planner (tools/plan_rotation.py) must encode the same
policy test_registry_rotation.py enforces after the fact: code-changed
first, never-green forced in-window, stalest-first promotion, tail =
next round's promotion queue. Pure-function tests on synthetic data —
no Spark, no real correctness files."""

from __future__ import annotations

import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
spec = importlib.util.spec_from_file_location(
    "plan_rotation", os.path.join(REPO, "tools", "plan_rotation.py")
)
plan_rotation = importlib.util.module_from_spec(spec)
spec.loader.exec_module(plan_rotation)
plan = plan_rotation.plan


def test_policy_ordering_and_partition():
    registry = [f"q{i:02d}" for i in range(12)]
    oracle = set(registry)
    # q00..q03 green in r2 (stalest), q04..q07 in r3, q08..q10 in r4;
    # q11 never green
    newest = {f"q{i:02d}": 2 + i // 4 for i in range(11)}
    head, tail, notes = plan(
        registry, oracle, newest, code_changed=["q08"], window=6
    )
    # code-changed leads; never-green forced in; then stalest-first
    assert head[:2] == ["q08", "q11"]
    assert head[2:] == ["q00", "q01", "q02", "q03"]
    # tail = remaining, stalest first (r3 greens before r4 greens)
    assert tail == ["q04", "q05", "q06", "q07", "q09", "q10"]
    # head+tail partition the registry
    assert sorted(head + tail) == sorted(registry)
    assert any("never-green" in n for n in notes)


def test_overflow_and_unknown_names_fail_loud():
    registry = [f"q{i}" for i in range(4)]
    with pytest.raises(SystemExit):
        plan(registry, set(registry), {}, code_changed=["nope"], window=2)
    with pytest.raises(SystemExit):
        # 3 never-green + 1 code-changed cannot fit a 2-slot window
        plan(
            registry,
            set(registry),
            {"q0": 1},
            code_changed=["q0"],
            window=2,
        )


# The r13 window as committed in plans/registry.py at the r13 rotation —
# a LITERAL snapshot, deliberately not reg._HEAD. The replay target
# moves forward each rotation (r11 -> r12 -> r13 precedent): the
# planner's tie-break among equally-stale fills follows the LIVE
# registry iteration order, which each rotation rewrites — so only the
# latest landed rotation is exactly replayable, and that is the one the
# rotation contract cares about ("the landed window IS the planner
# output").
R15_HEAD = (
    "events_multires_distinct_rollup",
    "events_multires_distinct_incremental",
    "events_multires_distinct_realtime",
    "events_distinct_user_erasure",
    "events_rollup_user_erasure",
    "events_multires_rollup_incremental",
    "events_multires_rollup_realtime",
    "ann_ivf_erasure_topk",
    "events_rollup_erasure_incremental",
    "events_distinct_erasure_incremental",
    "events_rollup_time_travel",
    "events_rollup_erasure_asof",
    "events_multires_quantile_rollup",
    "events_quantile_user_erasure",
    "events_multires_quantile_incremental",
    "events_quantile_erasure_incremental",
    "events_multires_quantile_realtime",
    "events_quantile_erasure_asof",
    "streaming_quantile_sample",
    "embedding_random_projection",
    "text_feature_hashing",
    "ngram_containment_pairs",
    "lang_id_confusion",
    "media_phash_dedup",
    "streaming_cm_sketch_cells",
    "snapshot_diff",
    "ab_experiment_metrics",
    "ngram_jaccard_pairs",
    "ngram_jaccard_capped",
    "dedup_exact_survivors",
    "streaming_kmv_distinct_tws",
    "streaming_kmv_distinct",
    "streaming_kmv_distinct_salted",
    "embedding_dim_profile",
    "hard_negative_lsh",
    "ann_recall_eval",
    "hard_negative_mining",
    "incremental_dedup_verdicts",
    "streaming_foreachbatch_upsert",
    "embedding_lsh_dups",
    "split_leakage_audit",
    "zorder_layout_plan",
    "zone_map_prune_audit",
    "rollup_grouping_flags",
    "events_json_struct",
    "embedding_label_dups",
    "customer_order_window",
    "orders_by_month",
    "supplier_unpivot",
    "early_not_recent_buyers",
)


def test_planner_matches_the_landed_r15_rotation():
    """Ground truth: replaying the planner against the real landed
    CORRECTNESS_r01..r14 union with r15's code-changed set must
    reproduce the r15 window EXACTLY as committed at the r15 rotation
    (the literal above) — proof the executable policy and the prose
    policy are one. Queries registered in FUTURE rounds are excluded
    from the replay (they did not exist when r15 was planned). The
    r15 never-green trio (the erasure-incremental pair + the IVF index
    erasure) IS part of the replay: it existed at planning time.

    The replay's registry order is the one the r15 rotation committed
    (R15_HEAD first, then registration order), not the live
    ``all_queries()`` order: every later rotation paste reorders the
    live registry, and the planner breaks staleness ties by registry
    order."""
    import glob

    from imdb_mapreduce_spark.plans.registry import _REGISTRY, all_queries

    paths = [
        p
        for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))
        if int(os.path.basename(p)[13:15]) <= 14
    ]
    if not paths:
        pytest.skip("no CORRECTNESS files (round 1)")
    newest = plan_rotation.newest_green_rounds(paths)
    qs = all_queries()
    known_at_r15 = set(R15_HEAD) | set(newest)
    r15_order = [n for n in R15_HEAD if n in qs]
    r15_order += [n for n in _REGISTRY if n not in R15_HEAD]
    order = [n for n in r15_order if n in known_at_r15]
    if set(R15_HEAD) - set(order):
        pytest.skip("r15 queries renamed/removed — replay no longer applies")
    head, _tail, _notes = plan(
        order,
        {n for n in order if qs[n].oracle is not None},
        newest,
        code_changed=[
            "events_multires_distinct_rollup",
            "events_multires_distinct_incremental",
            "events_multires_distinct_realtime",
            "events_distinct_user_erasure",
            "events_rollup_user_erasure",
            "events_multires_rollup_incremental",
            "events_multires_rollup_realtime",
        ],
    )
    assert list(head) == list(R15_HEAD)
