"""Tracing for the per-layer run: spans around calls into the engine's
public layer functions, recorded from the benchmark's own files.

``Tracer.install()`` replaces each listed function with a wrapper in its
defining module and in every engine module that imported it by name. A
wrapper opens a span (name, start, end, parent) and materializes any
DataFrame the call returns (``localCheckpoint``), so lazy work is charged
to the layer that defined it. Spark stage and job metrics are attributed
afterwards from Spark's status store: a stage belongs to the
innermost span open when it was submitted.
"""

from __future__ import annotations

import contextlib
import importlib
import os
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

PKG = "e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark"
MB = 1024.0 * 1024.0


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    phase: str
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    stages: list = field(default_factory=list)


def _is_df(x) -> bool:
    from pyspark.sql import DataFrame

    return isinstance(x, DataFrame)


def _materialize(out):
    if _is_df(out):
        return out.localCheckpoint(eager=True)
    if isinstance(out, tuple):
        return tuple(_materialize(x) for x in out)
    return out


def _dir_bytes(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.phase = "setup"
        self.enabled = True
        self.memo_lookups = {"setup": 0, "pass": 0}
        self.progress: list[tuple[str, dict, int]] = []
        self.job_times: list[float] = []
        self._stack: list[Span] = []
        self._main = threading.main_thread()

    # -- spans -------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled or threading.current_thread() is not self._main:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, time.time(), parent, self.phase, attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def _wrap(self, name: str, fn, materialize: bool = True, rows: bool = False):
        def wrapper(*args, **kwargs):
            with self.span(name) as s:
                out = fn(*args, **kwargs)
                if s is not None and materialize:
                    out = _materialize(out)
                    if rows and _is_df(out):
                        s.attrs["rows"] = out.count()
            return out

        return wrapper

    # -- layer wrappers ----------------------------------------------------

    def _memo(self, fn):
        def memo(spark, tag, build):
            if self.enabled:
                self.memo_lookups[self.phase] = self.memo_lookups.get(self.phase, 0) + 1
            built = []

            def counted():
                built.append(True)
                return build()

            with self.span("plans._memo.build", tag=str(tag[0])) as s:
                out = fn(spark, tag, counted)
                if s is not None and built and _is_df(out) and str(tag[0]).startswith("flagship"):
                    s.attrs["rows"] = out.count()
            if s is not None and not built:
                # a hit: no build ran, so the span holds no work
                self.spans.pop()
            return out

        return memo

    def _topk(self, name: str, fn):
        def topk(scored, *args, **kwargs):
            if self.enabled and threading.current_thread() is self._main:
                # candidate generation is the caller's work, not top-k's
                scored = scored.localCheckpoint(eager=True)
                n = scored.count()
            with self.span(name) as s:
                out = fn(scored, *args, **kwargs)
                if s is not None:
                    out = _materialize(out)
                    s.attrs["rows"] = n
            return out

        return topk

    def _similarity(self, fn):
        def similarity_graph(emb, *args, **kwargs):
            n = emb.count() if self.enabled else 0
            with self.span("operators.similarity.similarity_graph") as s:
                out = fn(emb, *args, **kwargs)
                if s is not None:
                    out = _materialize(out)
                    # the exhaustive kernel scores every ordered pair at
                    # this input size; the count follows from the sizes
                    s.attrs["pairs_scored"] = n * (n - 1)
                    s.attrs["pairs_kept"] = out.count()
            return out

        return similarity_graph

    def _louvain(self, fn, modularity):
        def louvain(edges, *args, **kwargs):
            with self.span("graph.algorithms.louvain") as s:
                out = fn(edges, *args, **kwargs)
                if s is not None:
                    out = _materialize(out)
            if s is not None:
                s.attrs["modularity"] = modularity(
                    edges, out, undirected=kwargs.get("undirected", True)
                )
            return out

        return louvain

    def _store_save(self, fn):
        def save_artifacts(spark, path, dfs):
            with self.span("ml.recsys_store.save") as s:
                out = fn(spark, path, dfs)
                if s is not None:
                    s.attrs["bytes"] = _dir_bytes(path)[1]
            return out

        return save_artifacts

    def _store_load(self, fn):
        def load_artifacts(spark, path, names):
            with self.span("ml.recsys_store.load") as s:
                out = fn(spark, path, names)
                if s is not None:
                    s.attrs["hit"] = out is not None
            return out

        return load_artifacts

    def _load_table(self, fn):
        def load_table(spark, name, *args, **kwargs):
            # a scan is lazy; materializing it here would strip the column
            # pruning every consumer relies on, so the span covers scan
            # resolution and the read itself is charged to the consumer
            with self.span("sources.scan", table=name) as s:
                out = fn(spark, name, *args, **kwargs)
                if s is not None:
                    sf_dir = args[0] if args else kwargs.get("sf_dir", "")
                    path = os.path.join(str(sf_dir), f"{name}.parquet")
                    s.attrs["bytes"] = os.path.getsize(path) if os.path.isfile(path) else 0
            return out

        return load_table

    def install(self) -> None:
        """Patch every traced layer function. Imports the registry first so
        that every module holding a by-name import is loaded."""
        reg = importlib.import_module(f"{PKG}.plans.registry")
        reg.queries()
        alg = importlib.import_module(f"{PKG}.graph.algorithms")
        plan = [
            ("session", "get_spark", lambda f: self._wrap("session.start", f, materialize=False)),
            ("sources.tables", "load_table", self._load_table),
            ("graph.build", "build_nodes", lambda f: self._wrap("graph.build.nodes", f, rows=True)),
            ("graph.build", "build_edges", lambda f: self._wrap("graph.build.edges", f, rows=True)),
            ("graph.build", "snapshot", lambda f: self._wrap("graph.build.snapshot", f)),
            ("operators.degrees", "degree_features",
             lambda f: self._wrap("operators.degrees.degree_features", f)),
            ("operators.similarity", "similarity_graph", self._similarity),
            ("operators.aggregates", "knn_aggregates",
             lambda f: self._wrap("operators.aggregates.knn_aggregates", f)),
            ("operators.aggregates", "preferred_category",
             lambda f: self._wrap("operators.aggregates.preferred_category", f)),
            ("graph.algorithms", "louvain", lambda f: self._louvain(f, alg.modularity)),
            ("ml.als", "als_rank2", lambda f: self._wrap("ml.als.fit", f)),
            ("ml.als", "als_rank2_bucketed", lambda f: self._wrap("ml.als.fit", f)),
            ("ml.recsys_store", "save_artifacts", self._store_save),
            ("ml.recsys_store", "load_artifacts", self._store_load),
            ("plans._memo", "memo", self._memo),
            ("operators.topk", "greedy_diverse_topk_exact",
             lambda f: self._topk("operators.topk.greedy_diverse_topk_exact", f)),
            ("operators.topk", "gumbel_topk", lambda f: self._topk("operators.topk.gumbel_topk", f)),
        ]
        for module, attr, make in plan:
            mod = importlib.import_module(f"{PKG}.{module}")
            orig = getattr(mod, attr)
            wrapped = make(orig)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith(PKG) and getattr(m, attr, None) is orig:
                    setattr(m, attr, wrapped)

    # -- streaming ---------------------------------------------------------

    def listen_streaming(self, spark) -> None:
        """Record each micro-batch's ``durationMs`` through a listener."""
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                if tracer.enabled:
                    p = event.progress
                    tracer.progress.append(
                        (tracer.phase, dict(p.durationMs), int(p.numInputRows))
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Progress())

    # -- Spark status store -------------------------------------------------

    def attribute_stages(self, spark) -> None:
        """Read every stage from Spark's status store and attach it to
        the innermost span open at its submission time."""
        store = spark.sparkContext._jsc.sc().statusStore()
        defaults = [getattr(store, f"stageList$default${i}")() for i in range(2, 6)]
        seq = store.stageList(None, *defaults)
        stages = []
        for i in range(seq.size()):
            st = seq.apply(i)
            sub = st.submissionTime()
            if not sub.isDefined():
                continue
            stages.append({
                "t": sub.get().getTime() / 1000.0,
                "tasks": st.numCompleteTasks() + st.numFailedTasks(),
                "failed_tasks": st.numFailedTasks(),
                "shuffle_write": st.shuffleWriteBytes(),
                "spill": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                "gc_ms": st.jvmGcTime(),
            })
        jobs_seq = store.jobsList(None)
        for i in range(jobs_seq.size()):
            sub = jobs_seq.apply(i).submissionTime()
            if sub.isDefined():
                self.job_times.append(sub.get().getTime() / 1000.0)
        for st in stages:
            owner = None
            for s in self.spans:
                if s.start <= st["t"] <= s.end and (owner is None or s.start >= owner.start):
                    owner = s
            if owner is not None:
                owner.stages.append(st)

    # -- results -----------------------------------------------------------

    def self_time(self, s: Span) -> float:
        kids = sum(c.end - c.start for c in self.spans if c.parent == s.id)
        return max(0.0, (s.end - s.start) - kids)

    def dump(self) -> list[dict]:
        return [
            {
                "id": s.id, "name": s.name, "start": s.start, "end": s.end,
                "parent": s.parent, "phase": s.phase, "self_s": self.self_time(s),
                "attrs": s.attrs,
                "stages": len(s.stages),
                "shuffle_write_mb": sum(x["shuffle_write"] for x in s.stages) / MB,
            }
            for s in self.spans
        ]


def _p50(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def layer_metrics(tracer: Tracer, passes: int, ingest_dirs: list[str]) -> dict[str, float]:
    """Per-layer metrics from the spans. A layer that ran in the timed
    passes reports its mean per pass; a layer that ran only during set-up
    (the session, and on ``refresh`` the store pre-train) reports its
    set-up value."""

    def pick(name: str) -> tuple[list[Span], int]:
        in_pass = [s for s in tracer.spans if s.name == name and s.phase == "pass"]
        if in_pass:
            return in_pass, max(1, passes)
        return [s for s in tracer.spans if s.name == name and s.phase == "setup"], 1

    def secs(name):
        spans, n = pick(name)
        return sum(tracer.self_time(s) for s in spans) / n

    def attr(name, key, scale=1.0):
        spans, n = pick(name)
        return sum(float(s.attrs.get(key, 0)) for s in spans) / n / scale

    def shuffle(*names):
        total = 0.0
        for name in names:
            spans, n = pick(name)
            total += sum(x["shuffle_write"] for s in spans for x in s.stages) / n
        return total / MB

    def count(name, pred=lambda s: True):
        spans, n = pick(name)
        return sum(1 for s in spans if pred(s)) / n

    louvain, _ = pick("graph.algorithms.louvain")
    memo_builds, nb = pick("plans._memo.build")
    pass_stages = [x for s in tracer.spans if s.phase == "pass" for x in s.stages]
    pass_windows = [(s.start, s.end) for s in tracer.spans if s.name == "pass"]
    jobs = sum(1 for t in tracer.job_times if any(a <= t <= b for a, b in pass_windows))
    per = max(1, passes)
    prog = [(d, n) for phase, d, n in tracer.progress if phase == "pass" and n > 0]
    files = size = 0
    for d in ingest_dirs:
        f, b = _dir_bytes(d)
        files, size = files + f, size + b
    nd = max(1, len(ingest_dirs))

    return {
        "session.start_s": secs("session.start"),
        "sources.scan_s": secs("sources.scan"),
        "sources.input_mb": attr("sources.scan", "bytes", MB),
        "graph.build.nodes_s": secs("graph.build.nodes"),
        "graph.build.edges_s": secs("graph.build.edges"),
        "graph.build.nodes_rows": attr("graph.build.nodes", "rows"),
        "graph.build.edges_rows": attr("graph.build.edges", "rows"),
        "graph.build.shuffle_write_mb": shuffle("graph.build.nodes", "graph.build.edges"),
        "graph.build.snapshot_s": secs("graph.build.snapshot"),
        "operators.degrees.degree_features_s": secs("operators.degrees.degree_features"),
        "operators.degrees.shuffle_write_mb": shuffle("operators.degrees.degree_features"),
        "operators.similarity.similarity_graph_s": secs("operators.similarity.similarity_graph"),
        "operators.similarity.pairs_scored": attr("operators.similarity.similarity_graph", "pairs_scored"),
        "operators.similarity.pairs_kept": attr("operators.similarity.similarity_graph", "pairs_kept"),
        "operators.aggregates.knn_aggregates_s": secs("operators.aggregates.knn_aggregates"),
        "operators.aggregates.preferred_category_s": secs("operators.aggregates.preferred_category"),
        "graph.algorithms.louvain_s": secs("graph.algorithms.louvain"),
        "graph.algorithms.louvain_modularity": _p50([s.attrs["modularity"] for s in louvain if "modularity" in s.attrs]),
        "ml.als.fit_s": secs("ml.als.fit"),
        "ml.als.shuffle_write_mb": shuffle("ml.als.fit"),
        "ml.recsys_store.save_s": secs("ml.recsys_store.save"),
        "ml.recsys_store.bytes_written_mb": attr("ml.recsys_store.save", "bytes", MB),
        "ml.recsys_store.load_s": secs("ml.recsys_store.load"),
        "ml.recsys_store.hits": count("ml.recsys_store.load", lambda s: s.attrs.get("hit")),
        "ml.recsys_store.misses": count("ml.recsys_store.load", lambda s: not s.attrs.get("hit")),
        "plans._memo.lookups": tracer.memo_lookups.get("pass", 0) / per,
        "plans._memo.builds": len(memo_builds) / nb,
        "plans._memo.build_s": secs("plans._memo.build"),
        "plans.flagship.flagship_s": secs("plans.flagship.flagship"),
        "plans.flagship.prefix_rows": sum(
            float(s.attrs.get("rows", 0)) for s in memo_builds if s.attrs.get("tag", "").startswith("flagship")
        ) / nb,
        "operators.topk.greedy_exact_s": secs("operators.topk.greedy_diverse_topk_exact"),
        "operators.topk.gumbel_s": secs("operators.topk.gumbel_topk"),
        "operators.topk.candidates_rows": sum(
            attr(n, "rows") for n in ("operators.topk.greedy_diverse_topk_exact", "operators.topk.gumbel_topk")
        ),
        "streaming.ingest.batches": len(prog) / per,
        "streaming.ingest.batch_p50_ms": _p50([d.get("triggerExecution", 0) for d, _ in prog]),
        "streaming.ingest.add_batch_ms_p50": _p50([d.get("addBatch", 0) for d, _ in prog]),
        "streaming.ingest.wal_commit_ms_p50": _p50([d.get("walCommit", 0) for d, _ in prog]),
        "streaming.ingest.query_planning_ms_p50": _p50([d.get("queryPlanning", 0) for d, _ in prog]),
        "streaming.ingest.files_written": files / nd,
        "streaming.ingest.bytes_written_mb": size / nd / MB,
        "spark.jobs": jobs / per,
        "spark.tasks": sum(x["tasks"] for x in pass_stages) / per,
        "spark.failed_tasks": sum(x["failed_tasks"] for x in pass_stages) / per,
        "spark.shuffle_write_mb": sum(x["shuffle_write"] for x in pass_stages) / per / MB,
        "spark.spill_mb": sum(x["spill"] for x in pass_stages) / per / MB,
        "spark.gc_s": sum(x["gc_ms"] for x in pass_stages) / per / 1000.0,
    }
