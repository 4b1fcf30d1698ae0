"""tools/drive_driver.py: the oracle memory limit it splices into SQL and
its named key tiers."""

from __future__ import annotations

import pytest

from flink_realtime_spark import registry
from tools.drive_driver import TIERS, oracle_mem_limit, tier_keys

# The uni tier's keys when its list was kept by hand; the rule that derives
# it (oracle SQL naming `documents` or `props`) must give the same set.
UNI_KEYS = {
    "ads_layered_pipeline", "dwd_clean_route", "dwd_try_safety",
    "flatmap_explode", "flatmap_explode_outer", "graph_pagerank",
    "llm_bpe_pair_freq", "llm_chunk_split", "llm_collocation_lift",
    "llm_cooccurrence", "llm_curation_pipeline", "llm_decontaminate",
    "llm_dedup_cluster", "llm_dedup_containment", "llm_dedup_editdist",
    "llm_dedup_exact", "llm_dedup_incremental", "llm_dedup_minhash",
    "llm_dedup_ngram_jaccard", "llm_dedup_simhash",
    "llm_dedup_simhash_pairs", "llm_dedup_substring",
    "llm_dedup_two_stage", "llm_doc_fingerprint", "llm_doc_keywords",
    "llm_dup_gram_share", "llm_frame_sample", "llm_lang_id",
    "llm_length_histogram", "llm_line_dedup", "llm_media_meta",
    "llm_multimodal_join", "llm_pii_redact", "llm_quality_score",
    "llm_repetition", "llm_source_overlap", "llm_substring_clean",
    "llm_text_normalize", "llm_text_stats", "llm_token_count",
    "llm_token_topk", "llm_top_boilerplate", "llm_vocab_coverage",
    "llm_word_rarity", "pipe_curriculum_ntile", "pipe_dataset_card",
    "pipe_mixture_weighted", "pipe_pack_sequences", "pipe_sample_hash",
    "pipe_sample_stratified", "pipe_shuffle_shard", "pipe_split_assign",
    "pipe_split_leakage_safe", "pipe_token_budget", "scalar_encode",
    "scalar_json_props", "scalar_url", "scalar_variant",
    "udtf_split_rows",
}


@pytest.mark.parametrize("name", sorted(TIERS))
def test_tier_keys_have_oracles(name):
    keys = tier_keys(name)
    assert keys and len(set(keys)) == len(keys)
    registry.load_all()
    assert [k for k in keys if k not in registry.ORACLES] == []


def test_uni_rule_reproduces_hand_kept_list():
    assert len(UNI_KEYS) == 59
    assert set(tier_keys("uni")) == UNI_KEYS


def test_unknown_tier_names_the_tiers():
    with pytest.raises(SystemExit, match=", ".join(sorted(TIERS))):
        tier_keys("nope")


def test_oracle_mem_limit_accepts_size(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_MEM", "1.5 GB")
    assert oracle_mem_limit() == "1.5 GB"


def test_oracle_mem_limit_rejects_stray_quote(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_MEM", "24GB'")
    with pytest.raises(ValueError, match="SPARK_GRAFT_ORACLE_MEM"):
        oracle_mem_limit()
