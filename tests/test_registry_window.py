"""Audit-window contract pins.

The external correctness gate audits only the FIRST 50 entries of the
`QUERIES` registry per round, so the order of the registry table that
`QUERIES` is derived from is load-bearing (see COVERAGE.md's window
paragraph). These pins make the contract explicit:
an accidental insertion or reorder at the top of the registry would
silently spend a driver-audit slot on the wrong query — the rotation
must always be a conscious, documented edit that also updates this
file."""

import ast
import inspect
import re

from superstore_data_pipeline_analytics_dashboard__spark.plans import (
    catalog_queries as CQ,
)
from superstore_data_pipeline_analytics_dashboard__spark.plans.catalog_queries import (
    ORACLES,
    QUERIES,
)

# The round-14 window, in order. Why these 50 and why in this order is
# stated once, in COVERAGE.md's "Driver audit window" paragraph.
R14_NEW = [
    "q287_erasure_concurrent_append",
    "q288_ivf_snapshot_maintenance",
    "q289_incremental_dedup_snapshot_diff",
    "q290_corpus_release_report",
    "q291_vector_store_erasure",
    "q292_lengthband_waterfill",
    "q293_apportion_schedule",
]
R14_UPGRADES = [
    # the six r13 partial-oracle upgrades, hash-audited for the first
    # time this round
    "q26_minhash_dedup",
    "q69_sign_lsh_neardup",
    "q72_semantic_dedup",
    "q81_kll_quantiles",
    "q82_theta_distinct",
    "q87_join_overlap_estimate",
]
R14_R8_CANARIES = [
    # the 19 r8-verdict queries no earlier window re-audited,
    # unchanged relative order
    "q76_tfidf_topterms",
    "q77_source_mix",
    "q78_event_funnel",
    "q79_heavy_join_keys",
    "q80_cms_heavy_hitters",
    "q83_cdc_apply",
    "q84_length_outliers",
    "q85_zorder_key",
    "q86_token_chunks",
    "q89_apply_source_mix",
    "q90_profit_by_nation_year",
    "q91_bilateral_volume",
    "q92_hierarchy_shares",
    "q93_incremental_rollup",
    "q94_distinct_under_rollup",
    "q95_order_history_nested",
    "q96_gap_filled_daily_revenue",
    "q97_drift_chi2",
    "q98_order_count_histogram",
]
R14_R9_CANARIES = [
    # the first 18 of the r9-verdict block, unchanged relative order
    "q251_pagerank_checkpoint_resume",
    "q252_grouped_topk_verified",
    "q253_topk_state_rollup",
    "q254_delivery_ledger",
    "q255_snapshot_as_of",
    "q256_snapshot_ledger",
    "q257_targeted_erasure",
    "q258_snapshot_diff",
    "q259_snapshot_drift_audit",
    "q260_manifest_consistency_audit",
    "q261_schema_evolution_pin",
    "q262_grid_erasure",
    "q263_late_event_audit",
    "q264_log_retention_ledger",
    "q265_incremental_rollup_via_diff",
    "q99_split_leakage",
    "q100_event_throttle",
    "q101_rolling_distinct_users",
]
R14_WINDOW = R14_NEW + R14_UPGRADES + R14_R8_CANARIES + R14_R9_CANARIES


def test_registry_counts():
    assert len(QUERIES) == 293
    assert len(ORACLES) == 282
    assert set(ORACLES) <= set(QUERIES)


def test_window_is_50_and_fully_oracled():
    window = list(QUERIES)[:50]
    assert len(window) == 50
    # an audit slot spent on a rows-only query is a wasted slot
    not_oracled = [q for q in window if q not in ORACLES]
    assert not not_oracled, not_oracled


def test_window_composition_matches_coverage_doc():
    window = list(QUERIES)[:50]
    assert len(R14_WINDOW) == 50
    assert window == R14_WINDOW


def test_queue_past_window_is_oldest_verdict_first():
    # past the window the oracled re-audit queue is monotone
    # oldest-verdict-first: the 32 r9-block queries the 18-canary
    # window slice didn't re-audit, then the r10, r11, r12 and
    # displaced r13 blocks, then the rows-only tail closes the registry
    names = list(QUERIES)
    assert names[50] == "q104_vocab_oov"  # r9-block rest head
    assert names[82] == "q266_lineitem_contract"  # displaced r10 head
    assert names[132] == "q268_ledger_contract"  # displaced r11 head
    assert names[182] == "q276_bloom_store_audit"  # displaced r12 head
    i = names.index("q282_bloom_store_repair")  # displaced r13 head
    assert i == 232
    # the displaced r13 window, in its r13-window order: q282-q286,
    # then the 14 r7-verdict + 31 r8-head canaries
    r13_band = names[i : i + 50]
    assert r13_band[:5] == [
        "q282_bloom_store_repair",
        "q283_noop_resume_retirement",
        "q284_wholetable_crash_repair",
        "q285_journaled_store_reconciliation",
        "q286_compaction_marker_repair",
    ]
    assert r13_band[5] == "q232_tokenizer_fertility"
    assert r13_band[-1] == "q75_sequence_pack"
    assert all(n in ORACLES for n in r13_band)
    # everything after the displaced r13 block is the rows-only tail
    assert all(n not in ORACLES for n in names[i + 50 :])
    assert len(names[i + 50 :]) == 11


def test_registry_table_declares_each_query_once():
    # QUERIES is a dict, so a duplicated or forgotten table entry would
    # vanish silently; the table itself must list every module-level
    # query function exactly once
    table = [fn.__name__ for fn, _, _ in CQ._REGISTRY]
    defined = [
        n for n, v in vars(CQ).items()
        if re.fullmatch(r"q\d+_\w+", n) and callable(v)
    ]
    assert len(table) == len(set(table))
    assert sorted(table) == sorted(defined)
    assert list(QUERIES) == table


def test_every_oracle_constant_is_registered():
    # a Q<n>_SQL constant left out of the table would silently leave
    # query q<n> rows-only
    constants = [n for n in vars(CQ) if re.fullmatch(r"Q\d+_SQL", n)]
    assert len(constants) == len(ORACLES)
    for fn, sql, casts in CQ._REGISTRY:
        num = re.match(r"q(\d+)_", fn.__name__).group(1)
        if sql is None:
            assert not casts, fn.__name__
        else:
            assert sql is vars(CQ)[f"Q{num}_SQL"], fn.__name__


def test_chain_bodies_share_landing_fold_and_journal():
    # manifest landing (_land_partitioned, manifest.write_batch_stats),
    # scalar folds (_fold_scalars) and the erasure journal
    # (retention._write_erase_journal) are each defined once; no query
    # body may re-spell one by hand
    tree = ast.parse(inspect.getsource(CQ))
    offenders = []
    for fn in tree.body:
        if not (
            isinstance(fn, ast.FunctionDef) and re.fullmatch(r"q\d+_\w+", fn.name)
        ):
            continue
        for node in ast.walk(fn):
            if isinstance(node, ast.Attribute):
                token = node.attr
            elif isinstance(node, ast.Name):
                token = node.id
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                token = node.value
            else:
                continue
            if (
                token in ("input_file_name", "__t")
                or ".erase_intent.json" in token
            ):
                offenders.append((fn.name, token))
    assert not offenders, offenders
