"""Mechanical attestation-head rotation.

The correctness harness attests a bounded prefix of the registered
queries (observed cap: 50). Rounds 1-8 hand-curated that prefix; the
r8 verdict (item 3) asked for the rotation to be DERIVED so it cannot
silently drift from the policy. This module is that single source of
truth — `catalog._load()` orders the registry with it, the repo-root
`attestation_report.py` prints it, and `tests/test_catalog.py`
re-checks the derivation against the committed driver artifacts.

Policy (unchanged since r8, now mechanical):
  1. every oracle-bearing query with NO green driver row in any
     committed `CORRECTNESS_r*.json` takes a mandatory head slot
     (new queries land here automatically and attest first-try);
  2. queries whose implementation changed this round re-attest
     (`FORCE_REATTEST` — the one judgment call a script cannot make,
     kept as an explicit, review-able constant);
  3. remaining slots go least-recently-attested first, sorted by
     (last-green round, name) so every attestation stays fresh;
  4. rows-only-by-design sketches stay in the tail — a head slot
     would record only the weaker rows-only check while their
     accuracy contracts are pytest-pinned.
"""

from __future__ import annotations

import glob
import json
import os

HEAD_SIZE = 50

# Sketch queries whose oracle is deliberately absent (accuracy
# contracts are pytest-pinned instead); they never take head slots.
ROWS_ONLY = frozenset({
    "q_profile_approx", "q_approx_stats", "q_hll_distinct",
    "q_pca_project",
})

# The artifact set the rotation derives from is PINNED to the rounds
# whose CORRECTNESS files are committed (reviewed per round, ADVICE
# r9): an uncommitted artifact appearing mid-round — or a deploy
# missing artifacts — must not silently shift the head order away
# from what the committed repo state mandates.
ATTESTED_THROUGH = 17

# Queries whose IMPLEMENTATION changed this round and therefore must
# re-attest even though a previous round's driver run was green.
# Reviewed each round — and MECHANICALLY GUARDED since round 10:
# tests/test_rotation_guard.py derives the queries whose package-
# internal import closure intersects the round's diff and fails the
# suite if any is missing here.
# This round opens with the r17 artifacts committed and the pin bumped
# to 17; the list grows as the round's diff touches query closures.
FORCE_REATTEST: tuple[str, ...] = (
    # r17 overflow carry-over: these r17-changed queries were cut from
    # the 50-slot head by the deterministic truncation (never-attested
    # first) and must still re-attest (policy: cut forced entries stay
    # listed until a committed artifact shows them green).
    "q_retention_cohorts", "q_training_pipeline", "q_constraint_audit",
    "q_csv_ingest", "q_fixedwidth_ingest", "q_generate",
    "q_jsonl_ingest", "q_merge_upsert", "q_merge_upsert_delete",
    "q_schema_evolution_read", "q_xml_ingest", "q_ann_ivf_assign",
    "q_ann_ivf_search", "q_arrow_batch_norms", "q_arrow_grouped_stats",
    "q_cluster_balanced_sample", "q_contrastive_negatives",
    "q_corpus_card", "q_decontaminate", "q_embedding_neardup",
    "q_event_sliding", "q_grouped_map_median", "q_incremental_vec_dedup",
    "q_kmeans_iter", "q_knn_bruteforce", "q_label_centroids",
    "q_mixture_sample", "q_null_funcs", "q_phrase_decontaminate",
    "q_pq_encode", "q_pq_search", "q_quota_allocation",
    "q_rhp_lsh_buckets", "q_rhp_lsh_pairs", "q_semdedup",
    "q_shard_assign", "q_sq_int8_quantize", "q_udaf_grouped_agg",
    "q_udtf_bigrams", "q_vector_lsh_verified", "q_weighted_sample",
    # sinks/keyed_table.py (bounded-probe lookups: version-schema
    # subset reads, single-partition merge, JVM-side empty relations,
    # one-selectExpr merge projection) and sinks/bloom_index.py (meta
    # memo fingerprinted by the sidecar listing) are in every keyed
    # query's closure
    "q_keyed_autosize", "q_keyed_bloom_scan", "q_keyed_constraints",
    "q_keyed_lookup_join", "q_keyed_lsm_roundtrip",
    "q_keyed_merged_read", "q_keyed_pruned_compact",
    "q_keyed_schema_strict", "q_keyed_sql_changes",
    "q_keyed_sql_copy_lifecycle", "q_keyed_sql_merge",
    "q_keyed_sql_restore", "q_keyed_sql_scan",
    "q_keyed_sql_update_delete", "q_keyed_table_changes",
    "q_keyed_view_avg", "q_keyed_view_follow", "q_keyed_view_maintain",
    "q_keyed_view_minmax", "q_keyed_view_recover",
    "q_keyed_zonemap_lookup", "q_keyed_zonemap_scan",
    "q_keyed_zorder_scan",
)


def _artifact_dir() -> str:
    """Repo root (two levels above this package) when it holds
    committed CORRECTNESS artifacts; else the process cwd (the
    driver runs from the repo checkout). Inside a worker-shipped
    package zip neither exists — the head order is driver-side
    only, so an empty result is harmless there."""
    here = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    if glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        return here
    return os.getcwd()


def last_green_by_query(artifact_dir: str | None = None) -> dict[str, int]:
    """Most recent round in which the driver attested each query green
    (rows + schema + value-hash all matching, no error). Only rounds up
    to the pinned `ATTESTED_THROUGH` count — an uncommitted artifact
    from the in-progress round must not shift the head mid-round."""
    root = artifact_dir or _artifact_dir()
    last: dict[str, int] = {}
    for f in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        try:
            rnd = int(os.path.basename(f).split("_r")[1].split(".")[0])
            with open(f) as fh:
                rows = json.load(fh)
        except (ValueError, OSError, json.JSONDecodeError):
            continue
        if rnd > ATTESTED_THROUGH:
            continue
        for q, v in rows.items():
            if (isinstance(v, dict) and v.get("rows_match")
                    and v.get("schema_match", True)
                    and v.get("hash_match", True) and not v.get("err")):
                last[q] = max(last.get(q, 0), rnd)
    if not last:
        import logging
        logging.getLogger(__name__).warning(
            "rotation: no committed CORRECTNESS artifacts found under %s "
            "— the derived head will treat EVERY query as never-attested "
            "(deploys without artifacts get a different order)", root)
    return last


def expected_head(names: list[str], oracle_names: set[str] | dict,
                  last_green: dict[str, int], *,
                  force: tuple[str, ...] = FORCE_REATTEST,
                  head_size: int = HEAD_SIZE) -> list[str]:
    """The head prefix the policy above mandates, given the catalog
    (`names`, registration order), which queries carry oracles, and
    the per-query last-green map from the committed artifacts.

    OVERFLOW (r16): when never-attested + forced exceed `head_size`
    (a round whose diff touches broad module closures), the head is
    the deterministic truncation — never-attested first, then forced
    in listed order — and NO LRA fill runs. Forced entries cut by
    the truncation stay in FORCE_REATTEST and take head slots next
    round; the local selfcheck (SELFCHECK_FULL.json) still covers
    every query every round, so the deferral affects which rows the
    DRIVER artifact carries, not what gets verified."""
    eligible = [n for n in names if n in oracle_names and n not in ROWS_ONLY]
    never = [n for n in eligible if n not in last_green]
    head: list[str] = list(dict.fromkeys(
        never + [f for f in force if f in eligible]))
    fill = sorted((n for n in eligible if n in last_green and n not in head),
                  key=lambda n: (last_green[n], n))
    head += fill[:max(head_size - len(head), 0)]
    return head[:head_size]
