"""Document deletes (tombstones) + compaction.

Reference semantics (tantivy-style): a delete does NOT rewrite posting
data — it records a tombstone set that every query masks BEFORE the
top-k cut, and the space/statistics are reclaimed at the next merge
("compaction").  Until compaction, global stats (num_docs, avgdl, dfs)
keep their pre-delete values — exactly the reference behavior, where
deleted docs still count toward idf until segments are merged.

Spark-native layout: tombstones are extra rows in the unified index
parquet (term = ``\\x00__del__``, ``id_bytes`` = raw sorted int64 doc
ids, one row per touched segment per delete batch).  They ride the
existing pruned scan (every query adds the tombstone term to its
``term IN (...)`` pushdown) and arrive in the per-segment kernel with
zero plan changes — no driver-side delete set, no broadcast, bounded by
the deletes that actually live in that segment.

A delete is metadata work, like the reference's delete-log entry on the
index writer: it runs on the DRIVER with pyarrow and starts no Spark job.
Original ids resolve through a filtered read of the docmap files, live
slots are checked against the sentinel rows of the touched segments
only, and the new tombstone rows land as ONE part file renamed into the
main index directory (:func:`~stractt_spark.plans.build.write_parquet_part`).
Like ``stats.json``, the index directory must be driver-local.

``merge_indexes`` applies tombstones during its decode (postings of
deleted docs are dropped, doc maps shrink, stats are recomputed from
the exact per-doc token counts), so a single-source merge IS the
compaction: ``compact_index`` is sugar for it.
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import SparkSession

from ..plans.build import IndexPaths, parquet_files, write_parquet_part
from ..streaming.ingest import batch_docmap_dir, registered_paths
from .segments import DELETES_TERM, NORMS_SENTINEL, SEGMENTS_SCHEMA


def delete_docs(
    spark: SparkSession,
    index_dir: str,
    doc_ids,
) -> int:
    """Tombstone ``doc_ids`` (the caller's id space: original ids on a
    presorted index, internal ids otherwise).  Returns the number of NEW
    tombstones written (ids already deleted or unknown are skipped).

    CONTRACT: only LIVE doc slots (≥1 indexed token) are tombstoned —
    gap slots inside the id span and zero-token docs are skipped (they
    are indistinguishable in the index layout, match no query, and a
    phantom tombstone would corrupt compaction's num_docs/avgdl
    accounting); purge zero-token docs by filtering the source at the
    next rebuild instead.  Deletes compose with streaming appends (ids
    past the build high-water mark resolve through the batch docmaps)
    and with
    multi-field indexes (the per-field sentinels' exact dl tails let
    compaction recompute exact per-field stats).  A quota query on a
    tombstoned index raises until compaction — truncated posting lists
    can no longer guarantee ``max_docs`` live higher-pre matches above
    the cut."""
    import pyarrow as pa
    import pyarrow.dataset as pads
    from pyspark.sql.pandas.types import to_arrow_schema

    paths = IndexPaths(index_dir)
    with open(paths.stats) as f:
        stats = json.load(f)
    if stats.get("layout") != "fused":
        raise ValueError(
            "delete_docs needs the fused unified layout (build_index_fused)"
        )
    ids = sorted({int(i) for i in doc_ids})
    if not ids:
        return 0
    dps = int(stats["docs_per_segment"])

    if stats.get("presorted"):
        # caller speaks ORIGINAL ids; tombstones store INTERNAL ids
        dm_dirs = [paths.docmap] + [
            batch_docmap_dir(index_dir, b)
            for b in stats.get("stream_batches", [])
        ]
        dm = pads.dataset(
            parquet_files(*[d for d in dm_dirs if os.path.isdir(d)]),
            format="parquet",
        ).to_table(columns=["doc_id"], filter=pads.field("orig_id").isin(ids))
        internal = np.unique(dm.column("doc_id").to_numpy())
    else:
        cand = np.asarray([i for i in ids if 0 <= i < stats.get(
            "next_doc_id", stats["num_docs"]
        )], dtype=np.int64)
        internal = _live_slots(index_dir, stats, cand)
    # drop ids already tombstoned (idempotent re-delete)
    arr = np.setdiff1d(internal, _tombstones(index_dir, stats))
    if not arr.size:
        return 0

    segs = arr // dps
    rows = []
    for seg in np.unique(segs):
        seg_ids = arr[segs == seg]
        rows.append({
            "segment_id": int(seg),
            "term": DELETES_TERM,
            "block_id": -1,
            "first_doc_id": int(seg_ids[0]),
            "last_doc_id": int(seg_ids[-1]),
            "num_docs": int(seg_ids.size),
            "id_bytes": seg_ids.tobytes(),
            "tf_bytes": b"",
            "pos_bytes": None,
            "max_tf": 0,
            "min_norm_id": 0,
        })
    write_parquet_part(paths.index, pa.Table.from_pylist(
        rows, schema=to_arrow_schema(SEGMENTS_SCHEMA)
    ))
    stats["deleted_docs"] = int(stats.get("deleted_docs", 0) + arr.size)
    tmp = paths.stats + ".tmp"
    with open(tmp, "w") as f:
        json.dump(stats, f, indent=2)
    os.replace(tmp, paths.stats)
    return int(arr.size)


def _live_slots(index_dir: str, stats: dict, cand: np.ndarray) -> np.ndarray:
    """The ``cand`` internal ids that are LIVE doc slots.

    Validates against live slots, not just the id range: streamed /
    aligned builds leave gap slots (dl=0, no postings) inside the span,
    and compaction's delete accounting joins tombstones against every
    decoded slot — so a phantom tombstone would be subtracted from
    num_docs/avgdl.  Reads only the sentinel rows of the segments the
    candidates fall in; a multi-field doc is live when any field holds a
    token."""
    import pyarrow.dataset as pads

    from .merge import mf_sentinel_dls, sentinel_dls
    from .multifield import MF_NORMS_PREFIX

    if not cand.size:
        return cand
    mf = stats.get("multifield")
    terms = (
        [MF_NORMS_PREFIX + f_ for f_ in mf["fields"]] if mf
        else [NORMS_SENTINEL]
    )
    segs = np.unique(cand // int(stats["docs_per_segment"])).tolist()
    cols = ["first_doc_id", "num_docs", "id_bytes", "tf_bytes"]
    tbl = pads.dataset(
        parquet_files(*registered_paths(index_dir, stats)), format="parquet"
    ).to_table(
        columns=cols,
        filter=pads.field("term").isin(terms)
        & pads.field("segment_id").isin(segs),
    )
    live = []
    for base, span, norm_bytes, meta_bytes in zip(
        *(tbl.column(c).to_pylist() for c in cols)
    ):
        dls = (
            mf_sentinel_dls(meta_bytes, norm_bytes) if mf
            else sentinel_dls(meta_bytes, span, norm_bytes)
        )
        live.append(base + np.flatnonzero(dls > 0))
    if not live:
        return cand[:0]
    return np.intersect1d(cand, np.concatenate(live))


def _tombstones(index_dir: str, stats: dict) -> np.ndarray:
    import pyarrow.dataset as pads

    tbl = pads.dataset(
        parquet_files(*registered_paths(index_dir, stats)), format="parquet"
    ).to_table(columns=["id_bytes"], filter=pads.field("term") == DELETES_TERM)
    blobs = tbl.column("id_bytes").to_pylist()
    if not blobs:
        return np.zeros(0, dtype=np.int64)
    return np.unique(np.concatenate([
        np.frombuffer(b, dtype=np.int64) for b in blobs
    ]))


def read_tombstones(spark: SparkSession, index_dir: str) -> np.ndarray:
    """All tombstoned INTERNAL ids of an index (sorted, deduped) — a
    driver-side array for compaction-time bookkeeping and tests, read
    with pyarrow (no Spark job); query kernels never call this (they
    read the per-segment rows off the scan)."""
    with open(IndexPaths(index_dir).stats) as f:
        return _tombstones(index_dir, json.load(f))


def compact_index(
    spark: SparkSession,
    index_dir: str,
    out_dir: str,
    docs_per_segment: int | None = None,
):
    """Rewrite the index without its tombstoned docs — a single-source
    ``merge_indexes`` (the reference reclaims deletes the same way: at
    segment merge).  Stats are recomputed over the surviving docs, so
    post-compaction scores are bit-identical to an index built fresh
    without the deleted docs."""
    from .merge import merge_indexes

    return merge_indexes(spark, [index_dir], out_dir,
                         docs_per_segment=docs_per_segment)
