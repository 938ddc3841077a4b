"""The index write path: id assignment at scale, the ``"auto"`` shuffle
partition conf, and the Spark-job budget of appends and deletes.

* ``assign_doc_ids`` must number every row exactly once when its range
  partitioning is re-executed by more than one consumer.  Spark samples
  range bounds anew on each execution once the input outgrows the sample,
  so the check runs at 8192+ docs over 8 range partitions: the presorted
  append, the presorted compaction and the presorted multi-field build
  must all write docmaps with unique, complete internal ids.
* index metadata (docmap lookups, tombstones, sentinel rows) is read and
  written on the driver: ``delete_docs`` and ``read_tombstones`` run no
  Spark job, and ``append_batch`` stays within its measured job count.
"""

import os
import shutil

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql.conf import RuntimeConfig

from stractt_spark.operators.deletes import (
    compact_index,
    delete_docs,
    read_tombstones,
)
from stractt_spark.operators.multifield import build_index_fused_multifield
from stractt_spark.oracle import build_oracle
from stractt_spark.plans.build import SegmentIndex, build_index_fused
from stractt_spark.sources.corpus import make_corpus
from stractt_spark.streaming.ingest import append_batch

BASE = "/tmp/stractt_write_path_test"
N_BASE = 8192
N_APPEND = 1024
DPS = 2048
SCHEMA = "doc_id long, path string, content string, pre_score double"
# Spark jobs of one append_batch as measured: the id assignment (range
# sample + sort into the cache + per-partition counts), the docmap write,
# the encode + write and the incremental term_stats merge
APPEND_JOBS = {"plain": 10, "presorted": 11, "mf": 10}


def pre_of(i: int) -> float:
    """Distinct integer pre-scores (exact in float32): a bijection mod a
    prime, so the (pre desc, orig asc) rank has no ties to break."""
    return float((i * 2654435761) % 1000003)


def count_jobs(spark, fn):
    """(result, number of Spark jobs ``fn`` ran), from a job group."""
    sc = spark.sparkContext
    group = f"write-path-{os.urandom(4).hex()}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def docmap(index_dir: str) -> tuple[np.ndarray, np.ndarray]:
    """(internal ids, original ids) over the build's and every batch's
    docmap directory."""
    dirs = [os.path.join(index_dir, "docmap.parquet")]
    batches = os.path.join(index_dir, "batches")
    if os.path.isdir(batches):
        dirs += sorted(
            os.path.join(batches, d) for d in os.listdir(batches)
            if d.endswith("_docmap.parquet")
        )
    tbl = [pq.read_table(d, columns=["doc_id", "orig_id"]) for d in dirs]
    return (
        np.concatenate([t.column("doc_id").to_numpy() for t in tbl]),
        np.concatenate([t.column("orig_id").to_numpy() for t in tbl]),
    )


def assert_ids_complete(index_dir: str, orig_expected: set[int]) -> dict:
    """Unique internal ids, the expected original ids; → internal→orig."""
    internal, orig = docmap(index_dir)
    assert len(np.unique(internal)) == len(internal), "repeated internal ids"
    assert set(orig.tolist()) == orig_expected
    assert len(orig) == len(orig_expected)
    return dict(zip(internal.tolist(), orig.tolist()))


@pytest.fixture(scope="module")
def large(spark):
    shutil.rmtree(BASE, ignore_errors=True)
    rows = make_corpus(N_BASE + N_APPEND)
    data = [(i, r["path"], r["content"], pre_of(i)) for i, r in enumerate(rows)]
    base = spark.createDataFrame(data[:N_BASE], SCHEMA)
    batch = spark.createDataFrame(data[N_BASE:], SCHEMA)
    return rows, base, batch


@pytest.fixture(scope="module")
def appended(spark, large):
    rows, base, batch = large
    d = f"{BASE}/presorted"
    build_index_fused(
        spark, base, d, text_col="content", docs_per_segment=DPS,
        pre_scores=base.select("doc_id", "pre_score"),
    )
    append_batch(spark, batch, 0, d, pre_score_col="pre_score")
    return d


def test_presorted_append_ids_unique_and_oracle_equal(spark, large, appended):
    rows, _, _ = large
    orig_of = assert_ids_complete(appended, set(range(N_BASE + N_APPEND)))
    # the build assigns internal ids below N_BASE, the batch from the next
    # segment boundary on: both must rank by (pre desc, orig asc)
    for lo, hi, first in ((0, N_BASE, 0), (N_BASE, N_BASE + N_APPEND, N_BASE)):
        want = sorted(range(lo, hi), key=lambda i: (-pre_of(i), i))
        got = [orig_of[first + j] for j in range(hi - lo)]
        assert got == want
    oracle = build_oracle([])
    for internal, orig in orig_of.items():
        oracle.add(internal, rows[orig]["content"])
    idx = SegmentIndex(spark, appended).cache()
    for q, mode in (("merge sort", "should"), ("hash join", "must"),
                    ("result", "should")):
        got = idx.search_list(q, k=10, mode=mode, orig_ids=True)
        want = [(orig_of[d], s) for d, s in oracle.search(q, k=10, mode=mode)]
        assert got == want, (q, mode)


def test_presorted_compaction_ids_unique(spark, appended):
    doomed = list(range(0, N_BASE + N_APPEND, 97))
    assert delete_docs(spark, appended, doomed) == len(doomed)
    out = f"{BASE}/compacted"
    compact_index(spark, appended, out)
    live = set(range(N_BASE + N_APPEND)) - set(doomed)
    orig_of = assert_ids_complete(out, live)
    assert sorted(orig_of) == list(range(len(live)))


def test_presorted_multifield_build_ids_unique(spark, large):
    _, base, _ = large
    d = f"{BASE}/mf_presorted"
    build_index_fused_multifield(
        spark, base, d, {"path": "path", "content": "content"},
        docs_per_segment=DPS, pre_scores=base.select("doc_id", "pre_score"),
    )
    orig_of = assert_ids_complete(d, set(range(N_BASE)))
    assert sorted(orig_of) == list(range(N_BASE))


def test_append_with_auto_shuffle_partitions(spark, monkeypatch):
    """Platforms with auto-sized shuffles report the conf as ``"auto"``
    (open-source Spark refuses to store it, so the read is patched)."""
    real_get = RuntimeConfig.get

    def get(self, key, *args, **kwargs):
        if key == "spark.sql.shuffle.partitions":
            return "auto"
        return real_get(self, key, *args, **kwargs)

    rows = make_corpus(160)
    data = [(i, r["path"], r["content"], pre_of(i)) for i, r in enumerate(rows)]
    d = f"{BASE}/auto"
    shutil.rmtree(d, ignore_errors=True)
    monkeypatch.setattr(RuntimeConfig, "get", get)
    base = spark.createDataFrame(data[:100], SCHEMA)
    build_index_fused(
        spark, base, d, text_col="content", docs_per_segment=64,
        pre_scores=base.select("doc_id", "pre_score"),
    )
    append_batch(spark, spark.createDataFrame(data[100:], SCHEMA), 0, d,
                 pre_score_col="pre_score")
    monkeypatch.undo()
    orig_of = assert_ids_complete(d, set(range(160)))
    idx = SegmentIndex(spark, d)
    assert idx.stats["num_docs"] == 160
    oracle = build_oracle([])
    for internal, orig in orig_of.items():
        oracle.add(internal, rows[orig]["content"])
    got = idx.search_list("merge sort", k=10, mode="should")
    assert got == oracle.search("merge sort", k=10, mode="should")


@pytest.fixture(scope="module")
def small(spark):
    """A plain, a presorted and a multi-field fused index of 200 docs."""
    rows = make_corpus(300)
    data = [(i, r["path"], r["content"], pre_of(i)) for i, r in enumerate(rows)]
    base = spark.createDataFrame(data[:200], SCHEMA)
    dirs = {f: f"{BASE}/small_{f}" for f in APPEND_JOBS}
    for d in dirs.values():
        shutil.rmtree(d, ignore_errors=True)
    build_index_fused(spark, base, dirs["plain"], text_col="content",
                      docs_per_segment=64)
    build_index_fused(spark, base, dirs["presorted"], text_col="content",
                      docs_per_segment=64,
                      pre_scores=base.select("doc_id", "pre_score"))
    build_index_fused_multifield(
        spark, base, dirs["mf"], {"path": "path", "content": "content"},
        docs_per_segment=64,
    )
    return data, dirs


@pytest.mark.parametrize("flavor", sorted(APPEND_JOBS))
def test_append_and_delete_job_counts(spark, small, flavor):
    data, dirs = small
    d = dirs[flavor]
    batch = spark.createDataFrame(data[200:], SCHEMA)
    if flavor == "presorted":
        _, jobs = count_jobs(spark, lambda: append_batch(
            spark, batch, 0, d, pre_score_col="pre_score"))
    else:
        _, jobs = count_jobs(spark, lambda: append_batch(
            spark, batch.drop("pre_score"), 0, d, order_cols=("path",)))
    assert jobs <= APPEND_JOBS[flavor]
    # ids from the build and from the appended batch (original ids on the
    # presorted index, internal ones otherwise: the batch starts at 256)
    doomed = [3, 150] + ([250, 299] if flavor == "presorted" else [256, 300])
    n, jobs = count_jobs(spark, lambda: delete_docs(spark, d, doomed))
    assert (n, jobs) == (4, 0)
    n, jobs = count_jobs(spark, lambda: delete_docs(spark, d, doomed))
    assert (n, jobs) == (0, 0)  # idempotent
    tombs, jobs = count_jobs(spark, lambda: read_tombstones(spark, d))
    assert jobs == 0
    assert len(tombs) == 4
