"""Structured-Streaming incremental ingest: appended segments must be
query-equivalent to a batch build over the same docs."""

import shutil

import pytest

from stractt_spark.oracle import build_oracle
from stractt_spark.plans.build import SegmentIndex, build_index_fused
from stractt_spark.sources.corpus import make_corpus

BASE = "/tmp/stractt_stream_test"


@pytest.fixture(scope="module")
def streamed(spark):
    shutil.rmtree(BASE, ignore_errors=True)
    rows = make_corpus(500)
    dps = 96

    def df_of(chunk):
        return spark.createDataFrame(
            [(r["repo"], r["path"], r["commit"], r["content"]) for r in chunk],
            "repo string, path string, commit string, content string",
        )

    # initial batch index over the first 300 docs (ids = rank by key)
    from stractt_spark.operators.postings import assign_doc_ids

    idx_dir = f"{BASE}/index"
    with assign_doc_ids(df_of(rows[:300]), ["repo", "path", "commit"]) as (
        initial, _,
    ):
        build_index_fused(spark, initial, idx_dir, docs_per_segment=dps)

    # stream two more files, one micro-batch each
    from stractt_spark.streaming.ingest import stream_ingest

    in_dir = f"{BASE}/incoming"
    schema = "repo string, path string, commit string, content string"
    id_maps = []  # (chunk_rows, base) in ingestion order
    import json
    import os

    os.makedirs(in_dir, exist_ok=True)
    for fi, chunk in enumerate([rows[300:400], rows[400:500]]):
        df_of(chunk).coalesce(1).write.mode("append").parquet(in_dir)
        with open(f"{idx_dir}/stats.json") as f:
            hwm = json.load(f).get("next_doc_id", 300)
        base = ((hwm + dps - 1) // dps) * dps
        stream_ingest(
            spark, in_dir, idx_dir, schema,
            checkpoint_dir=f"{BASE}/ckpt", available_now=True,
        )
        id_maps.append((chunk, base))

    # oracle with the same deterministic id layout
    oracle = build_oracle([])
    key = lambda r: (r["repo"], r["path"], r["commit"])
    for i, r in enumerate(sorted(rows[:300], key=key)):
        oracle.add(i, r["content"])
    for chunk, base in id_maps:
        for i, r in enumerate(sorted(chunk, key=key)):
            oracle.add(base + i, r["content"])
    return SegmentIndex(spark, idx_dir).cache(), oracle


def test_stream_stats(streamed):
    index, oracle = streamed
    assert index.stats["num_docs"] == 500 == oracle.num_docs
    assert index.stats["total_tokens"] == oracle.total_tokens
    assert abs(index.stats["avgdl"] - oracle.avgdl) < 1e-9


@pytest.mark.parametrize(
    "query,mode",
    [("the", "should"), ("merge sort", "must"), ("buffer -scan", "must"),
     ("dtu", "should")],
)
def test_stream_rank_identity(streamed, query, mode):
    index, oracle = streamed
    got = index.search_list(query, k=10, mode=mode)
    expected = oracle.search(query, k=10, mode=mode)
    assert [d for d, _ in got] == [d for d, _ in expected], (query, mode)


def test_orphan_batch_dir_invisible_until_ledgered(streamed, spark):
    """Crash between batch-dir write and ledger commit: the orphan dir is
    invisible to readers; the retried append overwrites it and commits."""
    import json

    from stractt_spark.streaming.ingest import append_batch, batch_dir

    index, oracle = streamed
    root = index.paths.root
    extra = make_corpus(520)[500:520]
    df = spark.createDataFrame(
        [(r["repo"], r["path"], r["commit"], r["content"]) for r in extra],
        "repo string, path string, commit string, content string",
    )
    # simulate the crash: run a full append, then roll back ONLY the
    # ledger/stats commit (as if os.replace never happened)
    with open(f"{root}/stats.json") as f:
        before = json.load(f)
    append_batch(spark, df, 999, root)
    with open(f"{root}/stats.json") as f:
        after = json.load(f)
    assert 999 in after["stream_batches"]
    with open(f"{root}/stats.json", "w") as f:
        json.dump(before, f)  # roll back the commit; batch dir survives
    import os

    assert os.path.isdir(batch_dir(root, 999))  # orphan exists...
    fresh = SegmentIndex(spark, root)
    assert fresh.stats["num_docs"] == before["num_docs"]  # ...but invisible
    # retry is clean: overwrites the orphan, commits once
    append_batch(spark, df, 999, root)
    with open(f"{root}/stats.json") as f:
        final = json.load(f)
    assert final["stream_batches"].count(999) == 1
    assert final["num_docs"] == before["num_docs"] + 20
    idx2 = SegmentIndex(spark, root)
    assert len(idx2.search_list("buffer", k=5)) > 0


def test_stream_idempotent_batch(streamed, spark):
    """Re-delivering an already-ledgered batch id is a no-op."""
    index, _ = streamed
    import json

    from stractt_spark.streaming.ingest import append_batch

    with open(index.paths.stats) as f:
        before = json.load(f)
    dummy = spark.createDataFrame(
        [("r", "p", "c", "text")],
        "repo string, path string, commit string, content string",
    )
    append_batch(spark, dummy, before["stream_batches"][0], index.paths.root)
    with open(index.paths.stats) as f:
        after = json.load(f)
    assert after["num_docs"] == before["num_docs"]


def test_term_stats_delta_reads_only_new_batch(spark, streamed):
    """The per-batch term_stats job must scan the existing term_stats
    table + the NEW batch dir — never the main index (full-index pass per
    micro-batch would grow ingest cost with index size)."""
    from stractt_spark.streaming.ingest import batch_dir, merged_term_stats

    idx, _ = streamed
    old = spark.read.parquet(idx.paths.term_stats)
    bdir = batch_dir(f"{BASE}/index", 0)
    batch = spark.read.parquet(bdir)
    plan = merged_term_stats(old, batch)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "index.parquet" not in plan
    assert "term_stats" in plan and "batches" in plan


def test_append_retry_after_partial_commit_is_idempotent(spark):
    """Crash window: term_stats swapped but ledger commit lost.  The retry
    must NOT double-merge the batch's dfs (the _folded.json marker inside
    the term_stats dir travels with the swap)."""
    import json
    import os

    from stractt_spark.operators.postings import assign_doc_ids
    from stractt_spark.plans.build import SegmentIndex, build_index_fused
    from stractt_spark.streaming.ingest import append_batch

    base_dir = "/tmp/stractt_stream_retry_test"
    shutil.rmtree(base_dir, ignore_errors=True)
    rows = make_corpus(200)

    def df_of(chunk):
        return spark.createDataFrame(
            [(r["repo"], r["path"], r["commit"], r["content"]) for r in chunk],
            "repo string, path string, commit string, content string",
        )

    with assign_doc_ids(df_of(rows[:150]), ["repo", "path", "commit"]) as (
        initial, _,
    ):
        build_index_fused(spark, initial, base_dir, docs_per_segment=64)
    stats_path = f"{base_dir}/stats.json"
    with open(stats_path) as f:
        pre_batch_stats = f.read()  # exact pre-crash stats.json

    append_batch(spark, df_of(rows[150:]), batch_id=0, index_dir=base_dir)
    expected = {
        r["term"]: r["df"]
        for r in spark.read.parquet(f"{base_dir}/term_stats.parquet").collect()
    }
    with open(stats_path) as f:
        committed_stats = json.load(f)

    # simulate the crash: term_stats (with its _folded marker) survived the
    # swap, but the atomic ledger+stats commit was lost
    with open(stats_path, "w") as f:
        f.write(pre_batch_stats)

    append_batch(spark, df_of(rows[150:]), batch_id=0, index_dir=base_dir)
    got = {
        r["term"]: r["df"]
        for r in spark.read.parquet(f"{base_dir}/term_stats.parquet").collect()
    }
    assert got == expected  # no double counting
    with open(stats_path) as f:
        retried_stats = json.load(f)
    assert retried_stats == committed_stats  # tokens/avgdl not inflated

    # and the index still answers queries over all 200 docs
    idx = SegmentIndex(spark, base_dir)
    assert idx.stats["num_docs"] == 200
