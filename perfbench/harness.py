"""Session, corpus, statistics and tracing helpers for the benchmark.

Nothing here is imported by the library: every layer is timed from the
outside, by wrapping calls into public ``stractt_spark`` functions.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import math
import os
import pstats
import shutil
import statistics
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")

# pre-score: a bijection of the original id mod a prime, so every doc has
# a distinct integer pre-score (exact in float32 below 2**24) and the
# pre-score term dominates bm25 — the documented premise under which the
# max-docs quota is sound
PRE_MUL, PRE_MOD = 2654435761, 1000003


def pre_score(orig_id: int) -> float:
    return float((orig_id * PRE_MUL) % PRE_MOD)


def now() -> float:
    return time.perf_counter()


# ---------------------------------------------------------------- statistics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def tail(xs, beyond: int = 10):
    """Highest percentile with at least ``beyond`` samples above it →
    (value, percentile, n).  Below ``beyond + 1`` samples it is the max."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0, 0
    if n <= beyond:
        return s[-1], 100, n
    return s[n - 1 - beyond], math.floor(100 * (n - beyond) / n), n


# ------------------------------------------------------------------ session

def host_settings() -> dict:
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") \
        else os.cpu_count()
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    # one local-mode heap for every task thread; a quarter of physical RAM,
    # capped, keeps the benchmark well below what the host has
    mem_mb = max(1024, min(4096, phys_mb // 4))
    return {"cpus": cpus, "phys_mb": phys_mb, "driver_memory": f"{mem_mb}m"}


def start_spark(host: dict):
    """SparkSession on local[nproc]; every scratch file stays under WORK and
    the Python workers can import the package."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    from stractt_spark.session import get_spark

    conf = {
        "spark.driver.memory": host["driver_memory"],
        "spark.local.dir": local,
        # no hsperfdata file in /tmp: the run writes only under WORK
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    spark = get_spark(app_name="perfbench", cpus=host["cpus"], extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    # start the Python worker pool (pandas + Arrow) once, as any session
    # serving queries has; without it the first build pays it
    n = host["cpus"]
    spark.range(0, n, 1, n).mapInPandas(lambda it: it, "id long").count()
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    with contextlib.suppress(Exception):
        gw.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)


# ------------------------------------------------------------------- corpus

def corpus_path(seed: int, n: int) -> str:
    return os.path.join(WORK, "corpus", f"n{n}_s{seed}.parquet")


def load_corpus(spark, seed: int, n: int):
    """(Spark DataFrame, {orig_id: (path, content)}) of the seeded corpus,
    generated once per (seed, size) and cached on disk."""
    from stractt_spark.sources.corpus import corpus_spark_df

    path = corpus_path(seed, n)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        shutil.rmtree(path, ignore_errors=True)
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        corpus_spark_df(
            spark, n, seed=seed,
            partitions=2 * spark.sparkContext.defaultParallelism,
        ).write.mode("overwrite").parquet(tmp)
        os.replace(tmp, path)
    import pyarrow.parquet as pq

    tbl = pq.read_table(path, columns=["doc_id", "path", "content"])
    rows = {
        int(i): (p, c) for i, p, c in zip(
            tbl.column("doc_id").to_pylist(), tbl.column("path").to_pylist(),
            tbl.column("content").to_pylist(),
        )
    }
    return spark.read.parquet(path), rows


def with_pre_scores(df):
    from pyspark.sql import functions as F

    return df.select(
        "doc_id",
        ((F.col("doc_id") * F.lit(PRE_MUL)) % F.lit(PRE_MOD))
        .cast("double").alias("pre_score"),
    )


def read_docmap(path: str) -> list[tuple[int, int]]:
    """(internal doc id, original id) rows of one docmap directory."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["doc_id", "orig_id"])
    return list(zip(t.column("doc_id").to_pylist(),
                    t.column("orig_id").to_pylist()))


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dp, f))
    return total


def read_stage_seconds(index_dir: str) -> dict[str, float]:
    """Per-stage wall seconds from a build manifest (single-field builds)."""
    p = os.path.join(index_dir, "_manifest.json")
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        stages = json.load(f).get("stages", {})
    return {k: float(v.get("elapsed_sec", 0.0)) for k, v in stages.items()}


# ------------------------------------------------------------------ tracing

# kernel functions whose task-summed cumulative time the UDF profiler
# reports: metric key → (file base name, as the profiler records it;
# function name)
KERNELS = {
    "wand": ("wand.py", "_segment_topk_kernel"),
    "multifield": ("multifield.py", "_mf_segment_topk"),
    "encode": ("segments.py", "encode_segment"),
    "encode_mf": ("multifield.py", "encode"),
}


class Tracer:
    """In-memory spans, Spark job accounting and UDF-profiler readout.

    Off (``enabled=False``) it records nothing and patches nothing.  On, an
    operation (``op``) opens a job group and a root span; wrapped library
    functions add child spans only inside an operation.  Spans are written
    out by :meth:`dump` when the run ends."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple] = []
        self._n_ops = 0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self._stack:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1], "start": now(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = now()
            self._stack.pop()

    @contextlib.contextmanager
    def op(self, kind: str, traced: bool = True, **attrs):
        """One benchmark operation.  Untraced (or tracing off): no span, no
        job group, kernel profiler off."""
        if not (self.enabled and traced):
            if self.enabled:
                self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
            yield None
            return
        group = f"perfbench-{self._n_ops}"
        self._n_ops += 1
        self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        self.spark.sparkContext.setJobGroup(group, kind)
        rec = {"id": len(self.spans), "name": kind, "parent": None,
               "start": now(), "end": None, "group": group, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = now()
            self._stack.pop()
            self.spark.sparkContext.setJobGroup("perfbench-idle", "idle")

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper recording a span per call."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*a, **kw):
            with tracer.span(name):
                return orig(*a, **kw)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def descendants(self, rec: dict, name: str) -> list[dict]:
        out, todo = [], [rec["id"]]
        while todo:
            pid = todo.pop()
            for s in self.spans:
                if s["parent"] == pid:
                    todo.append(s["id"])
                    if s["name"] == name:
                        out.append(s)
        return out

    def job_counts(self, rec: dict) -> tuple[int, int]:
        """(jobs, completed tasks) the operation's job group ran."""
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(rec["group"])
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                si = st.getStageInfo(sid)
                if si is not None:
                    tasks += si.numCompletedTasks
        return len(jobs), tasks

    def settle_jobs(self) -> None:
        """Job-end events reach the status store asynchronously; wait until
        no job of ours is still reported running."""
        st = self.spark.sparkContext.statusTracker()
        for _ in range(50):
            if not st.getActiveJobsIds():
                break
            time.sleep(0.1)
        time.sleep(0.3)

    def kernel_seconds(self, tag: str) -> dict[str, tuple[float, int]]:
        """(task-summed seconds, calls) inside each KERNELS function since
        the last call, read from the UDF profiler (then cleared)."""
        totals = dict.fromkeys(KERNELS, (0.0, 0))
        if not self.enabled:
            return totals
        out = os.path.join(WORK, "profile", tag)
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out, exist_ok=True)
        try:
            self.spark.profile.dump(out, type="perf")
        finally:
            self.spark.profile.clear(type="perf")
        for f in glob.glob(os.path.join(out, "*.pstats")):
            for (fname, _, func), (_, nc, _, ct, _) in pstats.Stats(f).stats.items():
                for key, (base, name) in KERNELS.items():
                    if func == name and os.path.basename(fname) == base:
                        s, n = totals[key]
                        totals[key] = (s + ct, n + nc)
        return totals

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)
