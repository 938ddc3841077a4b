"""The workloads: one closed-loop client in one process on local[nproc].

* ``index_lifecycle`` — single-field presorted code index.  A query window
  on the fresh build (pre-score+bm25, plain bm25 and a max-docs quota
  share, a pool of distinct queries larger than the 256-entry plan memo, so
  plans are mostly cold) and three ``search_batch`` passes, then one
  append → delete → re-open → burst cycle.  The re-open empties the plan
  and ``term_df`` memos.
* ``search_multifield`` — path+content multi-field index with field
  boosts, queried in plain bm25 by the same generator from a pool smaller
  than the plan memo (plans mostly warm), then the same ``search_batch``
  passes.

Neither workload compacts an index or builds a presorted multi-field one:
in the library as it stands, both write docmaps with duplicate internal
ids (see ``README.md``), so results served from them fail the oracle.
Every result is checked against the pure-Python oracle after the timed
work is over.
"""

from __future__ import annotations

import dataclasses
import os
import random
import shutil
import sys
import traceback
from collections import defaultdict

from harness import (
    WORK, dir_bytes, mean, median, now, pre_score, read_docmap, read_stage_seconds,
    tail, with_pre_scores,
)
from oracles import Oracle, same
from streams import CLASSES, batch_queries, make_stream, repeat_frac

N_DOCS = 8192           # base corpus size (docs)
DOCS_PER_SEGMENT = 2048
ANALYZER = "code"
K = 10
# field → boost: bench.py's multi-field index boosts its short identifying
# field ("source") 10.0 and its body ("text") 4.0; path and content here
MF_FIELDS = {"content": 4.0, "path": 10.0}
BATCH_QUERIES = 16      # distinct queries in each search_batch pass
BATCH_PASSES = 3        # batch throughput is the median pass: the first
                        # one also compiles the batch plan
STREAM_LEN = 4096       # longer than any window consumes
APPEND_DOCS = 512       # docs appended by the lifecycle
DELETE_CALLS = 2        # delete_docs calls after the append
DELETE_IDS = 16         # ids per delete_docs call
PRUNE_PER_CLASS = 1     # queries per class in the traced pruning pass
# spans of the query layers inside search(); kernel time is not among them:
# it runs inside collect()'s tasks, summed over cores
LAYERS = ("functions.query_parse.parse_query", "plans.build.term_df",
          "operators.wand.wand_topk")

# distinct texts per class in each workload's stream (on the presorted
# index each text runs in up to three ranking modes): far more distinct
# queries than the 256-entry plan memo keeps plans cold; one text per class
# (6 distinct plain-bm25 queries) keeps them warm
TEXTS_PER_CLASS = {
    "index_lifecycle": 1024,
    "search_multifield": 1,
}
# build + open repetitions; set-up time is their median.  The multi-field
# build is ≈2 s of mostly fixed Spark overhead that keeps getting faster
# over the first few repetitions (a run-to-run spread near 0.3 with 3);
# 5 move its median past most of that warm-up
SETUP_REPS = {
    "index_lifecycle": 3,
    "search_multifield": 5,
}


class Run:
    """State of one benchmark run: the Spark session, tracer, corpus, the
    operation records, failure counts and the metrics it reports."""

    def __init__(self, spark, tracer, workload: str, seed: int,
                 seconds: float, session_s: float, corpus, docs) -> None:
        self.spark, self.tracer = spark, tracer
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.session_s = session_s
        self.corpus, self.docs = corpus, docs  # docs: orig → (path, content)
        self.multi = workload == "search_multifield"
        self.dir = os.path.join(WORK, "index", workload)
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []  # results that differ from the oracle
        self.inconsistent: list[str] = []  # index states that are not valid
        self.queries: list[dict] = []   # one record per query operation
        self.batches: list[dict] = []   # one record per batch pass
        self.builds: list[dict] = []
        self.opens: list[float] = []
        self.writes: dict[str, list[float]] = defaultdict(list)
        self.fresh: list[float] = []
        self.kernels: dict[str, dict[str, float]] = {}
        self.info: dict = {}
        self.prune_rows: list[tuple] = []  # (phase, query, top-k), traced runs
        self.stream = make_stream(seed, TEXTS_PER_CLASS[workload], STREAM_LEN,
                                  ranked=not self.multi)
        self.pos = 0
        # original ids the index should hold in each phase
        self.live: dict[str, set[int]] = {"base": set(docs)}

    # ------------------------------------------------------------ operations

    def fail(self, what: str, exc: BaseException) -> None:
        self.failed += 1
        print(f"# FAILED {what}: {exc!r}", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)

    def open(self, index_dir: str):
        from stractt_spark.operators.multifield import MultiFieldSegmentIndex
        from stractt_spark.plans.build import SegmentIndex

        cls = MultiFieldSegmentIndex if self.multi else SegmentIndex
        self.attempted += 1
        with self.tracer.op("open"):
            t0 = now()
            handle = cls(self.spark, index_dir).cache()
            self.opens.append(now() - t0)
        return handle

    @staticmethod
    def release(handle) -> None:
        if handle is not None:
            handle.segments.unpersist()
            handle.norms.unpersist()

    def build(self, index_dir: str) -> dict:
        from stractt_spark.operators.multifield import (
            build_index_fused_multifield,
        )
        from stractt_spark.plans.build import build_index_fused

        shutil.rmtree(index_dir, ignore_errors=True)
        self.attempted += 1
        with self.tracer.op("build") as span:
            t0 = now()
            if self.multi:
                build_index_fused_multifield(
                    self.spark, self.corpus, index_dir,
                    {f: f for f in MF_FIELDS}, analyzer=ANALYZER,
                    docs_per_segment=DOCS_PER_SEGMENT,
                    field_boosts=MF_FIELDS,
                )
            else:
                build_index_fused(
                    self.spark, self.corpus, index_dir, text_col="content",
                    id_col="doc_id", analyzer=ANALYZER,
                    docs_per_segment=DOCS_PER_SEGMENT,
                    pre_scores=with_pre_scores(self.corpus),
                )
            rec = {"t0": t0, "build_s": now() - t0, "span": span,
                   "stages": read_stage_seconds(index_dir)}
        self.builds.append(rec)
        return rec

    def query(self, handle, q, phase: str, traced: bool = True) -> dict:
        self.attempted += 1
        rec = {"q": q, "phase": phase, "rows": None, "lat": None,
               "span": None, "end": None}
        try:
            with self.tracer.op("query", traced=traced, cls=q.cls) as span:
                t0 = now()
                with self.tracer.span("search"):
                    df = handle.search(
                        q.text, k=K, mode=q.mode, with_pre_score=q.pre,
                        max_docs_per_segment=q.quota,
                    )
                with self.tracer.span("collect"):
                    rows = df.collect()
                rec["end"] = now()
                rec["lat"] = rec["end"] - t0
            rec["span"] = span
            rec["rows"] = [(int(r["doc_id"]), float(r["score"])) for r in rows]
        except Exception as e:  # a failed query is counted, the loop goes on
            self.fail(f"query {q}", e)
        self.queries.append(rec)
        return rec

    def window(self, handle, phase: str, seconds: float,
               first_t0: float | None = None, quota: bool = True) -> None:
        """Closed loop over the stream for ``seconds``.  In a traced run,
        every other query runs untraced: the two halves give the tracing
        overhead.  ``first_t0``: start of the write the first query
        answers after (freshness).  ``quota=False`` drops the quota from
        the queries that carry one."""
        deadline = now() + seconds
        n = 0
        while n == 0 or now() < deadline:
            q = self.stream[self.pos % len(self.stream)]
            self.pos += 1
            if q.quota is not None and not quota:
                q = dataclasses.replace(q, quota=None)
            traced = (n % 2 == 1) or not self.tracer.enabled
            rec = self.query(handle, q, phase, traced=traced)
            rec["window"] = True
            if n == 0 and first_t0 is not None and rec["end"] is not None:
                self.fresh.append(rec["end"] - first_t0)
            n += 1

    def batch(self, handle, phase: str) -> None:
        """``BATCH_PASSES`` ``search_batch`` passes (plain bm25: the batch
        API has no pre-score mode) over a fixed eval set of
        ``BATCH_QUERIES`` distinct queries of the same generator — the
        offline-throughput use of the kernels.  The set is the same for
        every seed (only the corpus changes), so the batch cost does not
        hang on the terms a seed happens to draw."""
        qs = batch_queries(BATCH_QUERIES)
        triples = [(f"q{i:03d}", q.text, q.mode) for i, q in enumerate(qs)]
        for _ in range(BATCH_PASSES):
            self.attempted += len(triples)
            rec = {"phase": phase, "qs": qs, "rows": None, "s": None}
            try:
                with self.tracer.op("batch"):
                    t0 = now()
                    rows = handle.search_batch(triples, k=K).collect()
                    rec["s"] = now() - t0
                per: dict[str, list] = defaultdict(list)
                for r in rows:
                    per[r["query_id"]].append(
                        (int(r["doc_id"]), float(r["score"])))
                rec["rows"] = [sorted(per[qid], key=lambda t: (-t[1], t[0]))
                               for qid, _, _ in triples]
            except Exception as e:
                self.failed += len(triples) - 1
                self.fail("search_batch", e)
            self.batches.append(rec)

    def setup(self) -> object:
        """Build + open ``reps`` times (the median is the set-up time); after
        each, the first query on the fresh handle gives freshness."""
        handle = None
        probe = self.stream[0]
        for _ in range(SETUP_REPS[self.workload]):
            self.release(handle)
            handle = None
            b = self.build(self.dir)
            handle = self.open(self.dir)
            b["open_s"] = self.opens[-1]
            rec = self.query(handle, probe, "base")
            if rec["end"] is not None:
                b["fresh_s"] = rec["end"] - b["t0"]
        self.info["index_bytes"] = dir_bytes(self.dir)
        return handle

    # ------------------------------------------------------------ workloads

    def serve(self, seconds: float):
        """Set-up, a query window of ``seconds`` on the fresh build, the
        batch passes and, traced, the pruning pass; returns the handle."""
        handle = self.setup()
        self.kernels["setup"] = self.tracer.kernel_seconds("setup")
        self.window(handle, "base", seconds)
        self.kernels["window"] = self.tracer.kernel_seconds("window")
        self.batch(handle, "base")
        if self.tracer.enabled:
            self.prune_pass(handle, "base")
        return handle

    def run_search(self) -> None:
        self.release(self.serve(self.seconds))

    def run_lifecycle(self) -> None:
        """Writes beside reads on one presorted index: a query window on the
        fresh build (quota share on) and the batch passes, then one append
        → delete → re-open → quota-free burst.  Three quarters of the query
        time go to the first window (its latencies are the query metrics),
        the rest to the burst, which checks results after the writes and
        gives freshness."""
        from pyspark.sql.types import (
            DoubleType, LongType, StringType, StructField, StructType,
        )
        from stractt_spark.operators.deletes import delete_docs
        from stractt_spark.sources.corpus import make_row
        from stractt_spark.streaming.ingest import append_batch

        handle = self.serve(self.seconds * 0.75)
        schema = StructType(
            [StructField("doc_id", LongType(), False)]
            + [StructField(c, StringType(), False)
               for c in ("repo", "path", "commit", "lang", "content")]
            + [StructField("pre_score", DoubleType(), False)]
        )
        added = range(N_DOCS, N_DOCS + APPEND_DOCS)
        rows = []
        for i in added:
            r = make_row(i, self.seed)
            self.docs[i] = (r["path"], r["content"])
            rows.append((i, r["repo"], r["path"], r["commit"], r["lang"],
                         r["content"], pre_score(i)))
        batch_df = self.spark.createDataFrame(rows, schema)
        live = self.live["base"] | set(added)
        doomed = random.Random(f"deletes|{self.seed}").sample(
            sorted(live), DELETE_CALLS * DELETE_IDS)
        self.live["added"] = set(added)
        self.live["deleted"] = set(doomed)
        self.release(handle)
        handle = None
        t0 = now()
        self.attempted += 1
        with self.tracer.op("append"):
            append_batch(self.spark, batch_df, 0, self.dir,
                         pre_score_col="pre_score")
            self.writes["append_s"].append(now() - t0)
        for j in range(DELETE_CALLS):
            part = doomed[j * DELETE_IDS:(j + 1) * DELETE_IDS]
            self.attempted += 1
            with self.tracer.op("delete"):
                d0 = now()
                n = delete_docs(self.spark, self.dir, part)
                self.writes["delete_s"].append(now() - d0)
            if n != len(part):
                self.failed += 1
                self.inconsistent.append(
                    f"delete_docs tombstoned {n} of {len(part)} live docs")
        handle = self.open(self.dir)
        # tombstoned index: the quota is refused until compaction
        self.window(handle, "cycle", self.seconds * 0.25, first_t0=t0,
                    quota=False)
        self.release(handle)

    def prune_pass(self, handle, phase: str) -> None:
        """Untimed: blocks decoded / total per query class, exact counts."""
        by_cls: dict[str, list] = defaultdict(list)
        for q in dict.fromkeys(self.stream):
            if len(by_cls[q.cls]) < PRUNE_PER_CLASS:
                by_cls[q.cls].append(q)
        counts = {}
        for cls in CLASSES:
            dec = tot = 0
            for q in by_cls[cls]:
                self.attempted += 1
                try:
                    if self.multi:
                        top, m = handle.search(
                            q.text, k=K, mode=q.mode, with_pre_score=q.pre,
                            max_docs_per_segment=q.quota, with_metrics=True,
                        )
                    else:
                        top, m = handle.search_with_metrics(
                            q.text, k=K, mode=q.mode, with_pre_score=q.pre,
                            max_docs_per_segment=q.quota,
                        )
                except Exception as e:
                    self.fail(f"pruning pass {q}", e)
                    continue
                dec += int(m["blocks_decoded"])
                tot += int(m["blocks_total"])
                self.prune_rows.append(
                    (phase, q, [(int(d), float(s)) for d, s in top]))
            counts[cls] = (dec, tot)
        self.info["pruning"] = counts

    # ------------------------------------------------------------ checking

    def check(self) -> dict:
        """Compare every result with the oracle of the index state it was
        served from.  Runs after all timed work."""
        checked = 0
        oracle = None
        for ph in ("base", "cycle"):
            recs = [r for r in self.queries if r["phase"] == ph]
            bats = [b for b in self.batches if b["phase"] == ph]
            prunes = [(q, rows) for p, q, rows in self.prune_rows if p == ph]
            if not (recs or bats or prunes):
                continue
            oracle = self._oracle_for(ph, oracle)
            items = [(r["q"], r["rows"]) for r in recs if r["rows"] is not None]
            items += prunes
            for q, rows in items:
                want = oracle.expected(q.text, q.mode, q.pre)
                checked += 1
                if not same(rows, want):
                    self.failed += 1
                    self._mismatch(ph, q, rows, want)
            for b in bats:
                if b["rows"] is None:
                    continue
                for q, rows in zip(b["qs"], b["rows"]):
                    want = oracle.expected(q.text, q.mode, False)
                    checked += 1
                    if not same(rows, want):
                        self.failed += 1
                        self._mismatch(ph + "/batch", q, rows, want)
        return checked

    def _mismatch(self, phase, q, got, want) -> None:
        self.mismatches.append(f"{phase} {q}: got {got} want {want}")

    def _docmap(self, path: str, expect: set[int]) -> dict[int, int]:
        """original → internal id map of one docmap directory, checked as
        one operation: one row per doc of ``expect`` (the original ids the
        benchmark itself wrote and did not delete), internal ids unique and
        not reused."""
        pairs = read_docmap(path)
        ids = {i for i, _ in pairs}
        origs = {o for _, o in pairs}
        dup = len(pairs) - len(ids)
        reused = len(ids & self._taken)
        self._taken |= ids
        self.attempted += 1
        if dup or reused or len(pairs) != len(expect) or origs != expect:
            self.failed += 1
            self.inconsistent.append(
                f"docmap {os.path.relpath(path, WORK)}: {len(pairs)} rows for "
                f"{len(expect)} docs, {len(expect - origs)} missing and "
                f"{len(origs - expect)} unexpected original ids, {dup} "
                f"duplicate and {reused} reused internal ids")
        return {o: i for i, o in pairs}

    def _add(self, oracle: Oracle, expect: set[int], internal_of: dict) -> None:
        """Add the docs of ``expect`` under their internal ids.  A doc the
        docmap lacks gets an id no index uses, so results still miss it."""
        for orig in expect:
            internal_of.setdefault(orig, -1 - orig)
        for orig in sorted(expect, key=internal_of.get):
            oracle.add(internal_of[orig], orig, *self.docs[orig])

    def _oracle_for(self, phase: str, prev: Oracle | None) -> Oracle:
        """The oracle of each phase holds the docs the benchmark expects to
        be live, taken from its own corpus and appended rows; the presorted
        index's docmaps only give their internal ids (a multi-field index
        here is not presorted: its internal ids are the original ones)."""
        expect = self.live["base"]
        if self.multi:
            o = Oracle(MF_FIELDS, ANALYZER)
            self._add(o, expect, {i: i for i in expect})
            return o
        if phase == "cycle":
            expect = self.live["added"]
            dm = self._docmap(os.path.join(
                self.dir, "batches", "b0_docmap.parquet"), expect)
            self._internal_of.update(dm)
            self._add(prev, expect, self._internal_of)
            prev.delete(self._internal_of[i] for i in self.live["deleted"])
            return prev
        self._taken: set[int] = set()
        self._internal_of = self._docmap(
            os.path.join(self.dir, "docmap.parquet"), expect)
        o = Oracle(None, ANALYZER)
        self._add(o, expect, self._internal_of)
        return o

    # ------------------------------------------------------------ metrics

    def end_to_end(self) -> tuple[dict, list[str]]:
        """Query latency is that of the window on the freshly built index:
        after writes the index has other segment counts and no quota, so
        mixing phases would put the median between two clusters."""
        by_phase: dict[str, list[float]] = defaultdict(list)
        for r in self.queries:
            if r.get("window") and r["lat"] is not None:
                by_phase[r["phase"]].append(r["lat"] * 1e3)
        lat = by_phase["base"]
        t_val, t_pct, n = tail(lat)
        setups = [b["build_s"] + b["open_s"] for b in self.builds]
        builds = [b["build_s"] for b in self.builds]
        bat = [b["s"] for b in self.batches if b["s"] is not None]
        fresh = self.fresh or [b["fresh_s"] for b in self.builds if "fresh_s" in b]
        src = sum(len(c.encode()) + (len(p.encode()) if self.multi else 0)
                  for i, (p, c) in self.docs.items() if i < N_DOCS)
        m = {
            "setup_s": (self.session_s + median(setups), "s"),
            "query_p50_ms": (median(lat), "ms"),
            "batch_qps": (BATCH_QUERIES / median(bat) if bat else 0.0, "1/s"),
            "build_docs_per_s": (N_DOCS / median(builds), "1/s"),
            "index_bytes_per_source_byte": (self.info["index_bytes"] / src, "B/B"),
            "freshness_s": (median(fresh), "s"),
        }
        notes = [
            f"query latency: n={n} p50={median(lat):.1f} ms, tail=p{t_pct} "
            f"{t_val:.1f} ms (10 samples beyond it)",
            f"setup: session {self.session_s:.2f} s + median of "
            f"{len(setups)} build+open {median(setups):.2f} s "
            f"(each: {', '.join(f'{x:.2f}' for x in setups)})",
            f"freshness samples (s): {', '.join(f'{x:.2f}' for x in fresh)}",
            "query p50 by phase: " + ", ".join(
                f"{ph} {median(v):.1f} ms (n={len(v)})"
                for ph, v in by_phase.items()),
        ]
        if self.workload == "index_lifecycle":
            ap, de = self.writes["append_s"], self.writes["delete_s"]
            notes += [
                f"append_docs_per_s {APPEND_DOCS / median(ap):.1f} 1/s "
                f"(n={len(ap)}, {APPEND_DOCS} docs per append)",
                f"delete_p50_ms {median(de) * 1e3:.1f} ms (n={len(de)}, "
                f"{DELETE_IDS} ids per call)",
            ]
        return m, notes

    def per_layer(self, overhead_ms: float) -> tuple[dict, list[str]]:
        tr = self.tracer
        tr.settle_jobs()
        win = [r for r in self.queries if r.get("window") and r["span"]]

        def child_ms(rec, name):
            return sum(s["end"] - s["start"] for s in tr.descendants(rec["span"], name)) * 1e3

        def ms(span):
            return (span["end"] - span["start"]) * 1e3

        parse = [child_ms(r, "functions.query_parse.parse_query") for r in win]
        tdf = [child_ms(r, "plans.build.term_df") for r in win]
        plan = [child_ms(r, "search") for r in win]
        exe = [child_ms(r, "collect") for r in win]
        # coverage: the named layers a query passes through (the spans
        # directly under search(), plus collect()) over the query's wall
        # time.  What search() spends outside them is reported apart, so on
        # the single-field path a layer that drops out of the trace lowers
        # the coverage.  The multi-field plan is built inside search()
        # itself, by no public function: there that remainder is the plan
        # layer, and coverage holds by construction
        cover, unattributed = [], []
        for r in win:
            (search,) = tr.descendants(r["span"], "search")
            named = sum(ms(s) for s in tr.children(search) if s["name"] in LAYERS)
            rest = ms(search) - named
            unattributed.append(rest)
            layers = named + (rest if self.multi else 0.0) + child_ms(r, "collect")
            wall = ms(r["span"])
            cover.append(layers / wall if wall else 0.0)
        jobs, tasks = [], []
        for r in win:
            j, t = tr.job_counts(r["span"])
            jobs.append(j)
            tasks.append(t)
        memo = [not tr.descendants(r["span"], "functions.query_parse.parse_query")
                for r in win]
        # kernel seconds are read right after the window on the fresh build
        nq = max(1, sum(1 for r in win if r["phase"] == "base"))
        kw = {k: s for k, (s, _) in self.kernels.get("window", {}).items()}
        ks = {k: s for k, (s, _) in self.kernels.get("setup", {}).items()}
        bjobs = [tr.job_counts(b["span"])[0] for b in self.builds if b["span"]]
        stages = defaultdict(list)
        for b in self.builds:
            for k, v in b["stages"].items():
                stages[k].append(v)
        m = {
            "functions.query_parse.parse_ms": (median(parse), "ms/query"),
            "plans.build.term_df_ms": (median(tdf), "ms/query"),
            "plan_ms": (median(plan), "ms/query"),
            "exec_ms": (median(exe), "ms/query"),
            "plan.memo_hit_frac": (mean(memo), "ratio"),
            "spark.jobs_per_query": (mean(jobs), "count"),
            "spark.tasks_per_query": (mean(tasks), "count"),
            "operators.wand.kernel_s": (kw.get("wand", 0.0) / nq, "s/query"),
            "operators.multifield.kernel_s": (kw.get("multifield", 0.0) / nq, "s/query"),
        }
        prune = self.info.get("pruning", {})
        for kern in ("wand", "multifield"):
            mine = (kern == "multifield") == self.multi
            for cls in CLASSES:
                d, t = prune.get(cls, (0, 0)) if mine else (0, 0)
                m[f"operators.{kern}.blocks_decoded_frac.{cls}"] = (d / t if t else 0.0, "ratio")
        nb = max(1, len(self.builds))
        for st in ("docmap", "index", "term_stats", "stats"):
            m[f"plans.build.stage.{st}_s"] = (median(stages.get(st, [])), "s")
        m.update({
            "operators.segments.encode_kernel_s": (
                (ks.get("encode", 0.0) + ks.get("encode_mf", 0.0)) / nb, "s/build"),
            "functions.tokenizer.tokens_per_s": (self.info["tokens_per_s"], "1/s"),
            "spark.jobs_per_build": (mean(bjobs), "count"),
            "plans.build.open_cache_s": (median(self.opens), "s"),
            "streaming.ingest.append_s": (median(self.writes["append_s"]), "s"),
            "operators.deletes.delete_s": (median(self.writes["delete_s"]), "s"),
            "stream.repeat_frac": (repeat_frac([r["q"] for r in self.queries if r.get("window")]), "ratio"),
            "trace.overhead_ms": (overhead_ms, "ms/query"),
            "trace.span_coverage": (median(cover), "ratio"),
            "trace.unattributed_ms": (median(unattributed), "ms/query"),
        })
        within = sum(1 for c in cover if abs(c - 1.0) <= 0.10)
        notes = [
            f"traced queries: {len(win)}; named layers ({', '.join(LAYERS)}, "
            f"collect{'; the search() remainder as the multi-field plan' if self.multi else ''}) "
            f"within 10% of wall: {within}/{len(cover)}, coverage "
            f"min {min(cover, default=0):.3f}; search() outside them: median "
            f"{median(unattributed):.2f} ms, max {max(unattributed, default=0):.2f} "
            f"ms; memo hits {sum(memo)}/{len(memo)}",
            "kernel seconds (task-summed) / calls in the traced window "
            "queries: " + ", ".join(
                f"{k}={v:.3f}/{n}"
                for k, (v, n) in self.kernels.get("window", {}).items()),
            "pruning blocks decoded/total: "
            + ", ".join(f"{c}={d}/{t}" for c, (d, t) in prune.items()),
        ]
        return m, notes
