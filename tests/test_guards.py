"""Flavor/crash-safety guards: operations that would SILENTLY corrupt an
index must refuse loudly instead.

* merge_indexes over a multi-field source would varint-decode per-field
  norm rows as posting deltas; over a presorted source it would remap the
  pre-score rank ids (voiding quota soundness) — both raise.
* streaming append_batch to a presorted index would write non-pre-ranked
  segments with pre_bytes=None; to a multi-field index it would tokenize
  one column into the un-prefixed namespace — both raise.
* the term_stats swap is rename-aside: a crash mid-swap is recoverable.
* a presorted build whose docs lack pre_scores rows raises instead of
  silently dropping them through the inner docmap join.
"""

import json
import os
import shutil

import pytest

from stractt_spark.operators.merge import merge_indexes
from stractt_spark.operators.multifield import build_index_fused_multifield
from stractt_spark.operators.postings import assign_doc_ids
from stractt_spark.plans.build import build_index_fused
from stractt_spark.sources.corpus import make_corpus
from stractt_spark.streaming.ingest import _recover_dir, _swap_dir, append_batch

BASE = "/tmp/stractt_guards_test"


def _df(spark, rows):
    return spark.createDataFrame(
        [(r["repo"], r["path"], r["commit"], r["content"]) for r in rows],
        "repo string, path string, commit string, content string",
    )


@pytest.fixture(scope="module")
def corpora(spark):
    shutil.rmtree(BASE, ignore_errors=True)
    rows = make_corpus(120)
    # yield inside the block: later tests reuse the numbered docs, which
    # stay valid only while the id assignment holds its intermediate
    with assign_doc_ids(_df(spark, rows), ["repo", "path", "commit"]) as (
        docs, _,
    ):
        plain_dir = f"{BASE}/plain"
        build_index_fused(spark, docs, plain_dir, docs_per_segment=64)

        from pyspark.sql import functions as F

        pre = docs.select("doc_id", (F.length("content") * 0.001).alias("pre_score"))
        presorted_dir = f"{BASE}/presorted"
        build_index_fused(
            spark, docs, presorted_dir, docs_per_segment=64, pre_scores=pre
        )

        mf_dir = f"{BASE}/mf"
        build_index_fused_multifield(
            spark, docs, mf_dir, {"path": "path", "content": "content"},
            docs_per_segment=64,
        )
        yield docs, plain_dir, presorted_dir, mf_dir


def test_merge_refuses_multifield_source(spark, corpora):
    _, plain_dir, _, mf_dir = corpora
    with pytest.raises(ValueError, match="MULTI-FIELD"):
        merge_indexes(spark, [plain_dir, mf_dir], f"{BASE}/merged_mf")


def test_merge_refuses_presorted_source(spark, corpora):
    _, plain_dir, presorted_dir, _ = corpora
    with pytest.raises(ValueError, match="PRESORTED"):
        merge_indexes(spark, [plain_dir, presorted_dir], f"{BASE}/merged_pre")


def test_append_refuses_presorted_index(spark, corpora):
    _, _, presorted_dir, _ = corpora
    extra = _df(spark, make_corpus(130)[120:130])
    with pytest.raises(ValueError, match="PRESORTED"):
        append_batch(spark, extra, 0, presorted_dir)


def test_append_refuses_legacy_multifield_index(spark, corpora):
    """MF appends need the build's field_cols mapping in stats; an index
    written before that landed must refuse instead of guessing which
    batch columns feed which fields."""
    _, _, _, mf_dir = corpora
    with open(f"{mf_dir}/stats.json") as f:
        stats = json.load(f)
    legacy = dict(stats)
    legacy["multifield"] = {
        k: v for k, v in stats["multifield"].items() if k != "field_cols"
    }
    legacy_dir = f"{BASE}/mf_legacy"
    shutil.rmtree(legacy_dir, ignore_errors=True)
    shutil.copytree(mf_dir, legacy_dir)
    with open(f"{legacy_dir}/stats.json", "w") as f:
        json.dump(legacy, f)
    extra = _df(spark, make_corpus(130)[120:130])
    with pytest.raises(ValueError, match="field_cols"):
        append_batch(spark, extra, 0, legacy_dir)


def test_presorted_build_refuses_missing_pre_scores(spark, corpora):
    docs, *_ = corpora
    from pyspark.sql import functions as F

    partial = docs.filter(F.col("doc_id") < 100).select(
        "doc_id", (F.col("doc_id") * 1.0).alias("pre_score")
    )
    with pytest.raises(ValueError, match="no pre_scores row"):
        build_index_fused(
            spark, docs, f"{BASE}/presorted_partial",
            docs_per_segment=64, pre_scores=partial,
        )


def test_swap_dir_crash_window_is_recoverable(tmp_path):
    """Crash after target→.old but before tmp→target: _recover_dir restores
    the OLD state (round-2's rmtree-then-replace lost it permanently)."""
    target = str(tmp_path / "term_stats.parquet")
    os.makedirs(target)
    with open(f"{target}/data.json", "w") as f:
        json.dump({"v": "old"}, f)
    os.makedirs(target + ".tmp")
    with open(f"{target}.tmp/data.json", "w") as f:
        json.dump({"v": "new"}, f)

    # normal swap: new content in place, no residue
    _swap_dir(target)
    with open(f"{target}/data.json") as f:
        assert json.load(f)["v"] == "new"
    assert not os.path.exists(target + ".old")
    assert not os.path.exists(target + ".tmp")

    # simulated crash: target was renamed aside, replacement never landed
    os.replace(target, target + ".old")
    assert not os.path.exists(target)
    _recover_dir(target)
    with open(f"{target}/data.json") as f:
        assert json.load(f)["v"] == "new"  # pre-crash state restored
