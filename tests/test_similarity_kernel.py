"""The shared similarity kernel (llm/similarity.py): zero-vector guard and
session-keyed memos.

The fixtures hold no zero-norm embedding, so the oracle sweeps never reach
the guard. Here a temporary copy of sf0.001 gets one zero vector (inside
the 1-in-50 query sample) and one exact duplicate, and every op built on
the kernel must complete, scoring 0.0 for each pair with the zero vector.
There is no oracle comparison: DuckDB's ``list_cosine_similarity`` returns
-1.0 for a zero vector, where the kernel returns 0.0.
"""

from __future__ import annotations

import os
import shutil
import types

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from python_kinesis_streaming_spark.llm import similarity, wave7
from python_kinesis_streaming_spark.registry import all_queries
from python_kinesis_streaming_spark.sources import tables

from tests.conftest import SF_DIR_SMALL
from tests.corpus_sets import scratch_or_stateful

#: every op whose similarity math runs through the kernel
KERNEL_OPS = [
    "corpus_cluster_balanced_sample", "corpus_contamination_embedding",
    "dedup_embed_cosine", "dedup_semdedup_eps_sweep", "dedup_semdedup_prune",
    "emb_centroid_confusion", "emb_centroid_diagnostics", "emb_isotropy_audit",
    "emb_ivf_balance_audit", "emb_knn_graph", "emb_matryoshka_prefix_recall",
    "emb_mips_transform", "emb_neardup_label_agreement", "emb_nndescent_round",
    "emb_normalize_quantize", "emb_outlier_gate", "emb_quantization_recall",
    "emb_semdedup_centroid_shift", "emb_shard_drift", "emb_sign_binarize_recall",
    "emb_triplet_margin_audit", "graph_adamic_adar_linkpred",
    "multimodal_manifest", "sim_ann_ivf", "sim_ann_lsh",
    "sim_cascade_recall_audit", "sim_cascade_sketch_recall_audit",
    "sim_distance_contrast_audit", "sim_graph_beam_recall", "sim_hubness_audit",
    "sim_ivf_nprobe_sweep", "sim_ivf_probe", "sim_knn_cosine",
    "sim_mmr_diversify", "sim_negative_mining_audit", "sim_pairwise_topk",
    "sim_prefilter_quality_report", "sim_query_batch", "sim_rank_quality_ndcg",
    "sim_rerank_two_stage", "sim_rrf_fusion", "sim_threshold_sweep",
    "sim_topk_incremental_delta", "sim_truncated_dims",
]

ZERO = 50  # zeroed; vec_id % 50 == 0 puts it in every audit's query sample
DUP_SRC, DUP = 51, 52  # 52 becomes an exact copy of 51 (same label)
_ID_COLS = ("qid", "vec_id", "vec_a", "vec_b", "src", "dst", "q_id", "query_id")


@pytest.fixture(scope="module")
def zero_sf(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sf_zero_vec"))
    for f in os.listdir(SF_DIR_SMALL):
        if f != "embeddings.parquet":
            shutil.copy(os.path.join(SF_DIR_SMALL, f), d)
    src = os.path.join(SF_DIR_SMALL, "embeddings.parquet")
    t = pq.read_table(src).to_pydict()
    assert t["vec_id"][ZERO] == ZERO and t["vec_id"][DUP] == DUP
    t["embedding"][ZERO] = [0.0] * len(t["embedding"][ZERO])
    t["embedding"][DUP] = list(t["embedding"][DUP_SRC])
    t["label"][DUP] = t["label"][DUP_SRC]
    pq.write_table(
        pa.table(t, schema=pq.read_schema(src)),
        os.path.join(d, "embeddings.parquet"),
    )
    yield d
    for memo in (tables._CACHE, similarity._NORM_CACHE, wave7._ASSIGNED_CACHE):
        for key in [k for k in memo if d in k]:
            memo.pop(key).unpersist()


def test_kernel_ops_complete_on_zero_and_duplicate_vectors(spark, zero_sf):
    from concurrent.futures import ThreadPoolExecutor

    q = all_queries()
    checked = []

    def one(name: str):
        try:
            rows = [r.asDict() for r in q[name](spark, zero_sf).collect()]
        except Exception as exc:  # noqa: BLE001 — collected and asserted
            return (name, repr(exc)[:300])
        for r in rows:
            if "sim" in r and ZERO in [r.get(c) for c in _ID_COLS]:
                checked.append(name)
                if r["sim"] != 0.0:
                    return (name, f"zero-vector pair scored {r}")
        return None

    sequential = [n for n in KERNEL_OPS if n in scratch_or_stateful()]
    with ThreadPoolExecutor(max_workers=6) as pool:
        failures = [
            r for r in pool.map(one, sorted(set(KERNEL_OPS) - set(sequential))) if r
        ]
    failures += [r for r in map(one, sequential) if r]
    assert not failures, f"{len(failures)} kernel ops failed: {failures}"
    # qid 50's IVF top-5 are all zero-vector pairs: the guard was reached
    assert "sim_ann_ivf" in checked, checked


def test_memos_key_on_application_id(spark, sf_dir, monkeypatch):
    """A session recreated after ``spark.stop()`` can get the dead one's
    ``id()``; the memos must miss for it, not hand back DataFrames bound
    to the dead context. Modelled as one object whose applicationId
    changes while its id() stays the same."""
    monkeypatch.setattr(tables, "_CACHE", {})
    monkeypatch.setattr(similarity, "_NORM_CACHE", {})
    monkeypatch.setattr(wave7, "_ASSIGNED_CACHE", {})

    class Relaunched:
        def __init__(self):
            self.sparkContext = types.SimpleNamespace(applicationId="app-1")

        def __getattr__(self, name):
            return getattr(spark, name)

    s = Relaunched()
    norms = similarity.emb_with_norm(s, sf_dir)
    assigned, _ = wave7._semdedup_assigned_pairs(s, sf_dir)
    assert similarity.emb_with_norm(s, sf_dir) is norms
    s.sparkContext.applicationId = "app-2"
    assert similarity.emb_with_norm(s, sf_dir) is not norms
    assert wave7._semdedup_assigned_pairs(s, sf_dir)[0] is not assigned
