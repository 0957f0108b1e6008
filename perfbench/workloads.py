"""The benchmark's workloads. Each one runs passes through the engine's
public entry points and checks every output it produces.

``refresh``  serving: the four diversity-aware top-k queries, read from the
             memo-shared candidate prefixes and a pre-trained model store.
``rebuild``  the nightly batch: streaming dvid ingest plus a snapshot read,
             the property-graph build (EP1) and feature engineering (EP2).
"""

from __future__ import annotations

import contextlib
import math
import os
import shutil
import sys
import traceback

import pandas as pd

from checks import Oracle, canon, digest, same
from gen import Scale

PKG = "e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark"


class Workload:
    name = ""
    scale = Scale(customers=500, events=5000)
    oracles: tuple[str, ...] = ()
    warmup_passes = 1

    def __init__(self, data_dir: str, work_dir: str, tracer=None):
        self.data = data_dir
        self.work = work_dir
        self.tracer = tracer
        self.want: dict[str, pd.DataFrame] = {}
        self.digests: dict[str, str] = {}
        self.passes = 0
        self.attempted = 0
        self.failed = 0

    def prepare(self, oracle: Oracle) -> None:
        """Compute every oracle answer once, before any pass."""
        from importlib import import_module

        sql = import_module(f"{PKG}.plans.registry").oracle_sql()
        self.want = {name: oracle.answer(sql[name]) for name in self.oracles}

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else contextlib.nullcontext()

    def check(self, name: str, fn) -> None:
        """Run one operation and its output check; an exception or a
        mismatch counts as one failed operation."""
        self.attempted += 1
        try:
            with self.span(f"op.{name}"):
                ok = bool(fn())
        except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            ok = False
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {self.name}/{name}", file=sys.stderr)

    def stable(self, key: str, df: pd.DataFrame) -> bool:
        """The output digest must be the same on every pass."""
        d = digest(df)
        return self.digests.setdefault(key, d) == d

    def run_pass(self, spark) -> None:
        from importlib import import_module

        import_module(f"{PKG}.plans._memo").clear()
        with self.span("pass"):
            self._pass(spark)
        self.passes += 1

    def _pass(self, spark) -> None:
        raise NotImplementedError

    def ingest_dirs(self) -> list[str]:
        return []


class Refresh(Workload):
    name = "refresh"
    oracles = (
        "flagship_diverse_topk",
        "serve_greedy_diverse_topk",
        "serve_gumbel_softmax_topk",
        "hybrid_recommendations",
    )

    def _pass(self, spark) -> None:
        from importlib import import_module

        queries = import_module(f"{PKG}.plans.registry").queries()
        for name in self.oracles:

            def op(name=name):
                # the registry holds the flagship function itself, so its
                # layer span is opened here rather than by a patch
                flagship = name == "flagship_diverse_topk"
                with self.span("plans.flagship.flagship") if flagship else contextlib.nullcontext():
                    got = queries[name](spark, self.data).toPandas()
                return same(canon(got), self.want[name])

            self.check(name, op)


class Rebuild(Workload):
    name = "rebuild"
    oracles = ("graph_stats", "degree_features", "knn_aggregates", "preferred_category")
    rows_per_batch = 1000
    # The JIT is still compiling during the second rebuild pass in a fresh
    # JVM: over five seeds the first pass after one warm-up took 11.5-14.2 s
    # and the next one 10.9-12.2 s. On refresh a second warm-up left the
    # run-to-run spread unchanged (11.8 % vs 11.9 % of the median), so
    # only rebuild pays for it.
    warmup_passes = 2

    def _pass(self, spark) -> None:
        from importlib import import_module

        api = import_module(f"{PKG}.api")
        build = import_module(f"{PKG}.graph.build")
        ingest = import_module(f"{PKG}.streaming.ingest")
        n_events = self.scale.events
        n_batches = math.ceil(n_events / self.rows_per_batch)

        base = os.path.join(self.work, "ingest", str(self.passes))
        shutil.rmtree(base, ignore_errors=True)
        out = os.path.join(base, "state")
        counts: dict = {}

        def stream():
            got = ingest.stream_dvid_ingest(
                spark, self.data, out, os.path.join(base, "ckpt"), rows_per_batch=self.rows_per_batch
            ).toPandas()
            counts.update(zip(got["dvid"].astype(int), got["cnt"].astype(int)))
            # The batch boundaries come from repartitionByRange, whose
            # sampling seed follows the RDD id, so per-dvid counts differ
            # between fresh ingests. What must hold: every event lands
            # exactly once, and each dvid holds one contiguous event_id
            # range.
            state = spark.read.parquet(out).select("event_id", "dvid").toPandas()
            ids = state["event_id"].sort_values().to_numpy()
            spans = state.groupby("dvid")["event_id"].agg(["min", "max", "count"]).sort_values("min")
            return (
                sum(counts.values()) == n_events
                and sorted(counts) == list(range(1, n_batches + 1))
                and len(ids) == n_events
                and bool((ids == range(n_events)).all())
                and bool((spans["max"] - spans["min"] + 1 == spans["count"]).all())
            )

        self.check("ingest_counts", stream)

        def snapshot():
            k = n_batches // 2
            got = build.snapshot(spark.read.parquet(out), k).count()
            return got == sum(c for d, c in counts.items() if d <= k)

        self.check("snapshot", snapshot)

        def ep1():
            nodes, edges, stats = api.ingest_and_build_graph(spark, self.data)
            for df in (nodes, edges):
                df.write.format("noop").mode("overwrite").save()
            return same(canon(stats.toPandas()), self.want["graph_stats"])

        self.check("graph_stats", ep1)

        feats: dict = {}

        def ep2():
            feats["df"] = canon(api.engineer_features(spark, self.data).toPandas())
            return self.stable("engineer_features", feats["df"])

        self.check("engineer_features", ep2)
        f = feats.get("df")
        deg_cols = ["degree", "degree_percentile", "degree_zscore", "id", "label",
                    "log_degree", "type_degree_zscore"]
        knn_cols = ["knn_avg_similarity", "knn_max_similarity", "knn_min_similarity", "knn_std_similarity"]

        def degree():
            want = self.want["degree_features"]
            return same(canon(f[deg_cols]), canon(want[want["label"] == "Customer"]))

        def knn():
            want = self.want["knn_aggregates"].copy()
            want["id"] = "cust_" + want["id"].astype(str)
            want = want[want["id"].isin(set(f["id"]))]
            got = f[f["knn_avg_similarity"].notna()][["id", *knn_cols]]
            return same(canon(got), canon(want))

        def preferred():
            want = self.want["preferred_category"].rename(columns={"customer_id": "id"})
            got = f[f["preferred_category"] != "None"][["id", "preferred_category", "purchase_cnt"]]
            return same(canon(got), canon(want))

        for name, fn in (("degree_features", degree), ("knn_aggregates", knn), ("preferred_category", preferred)):
            self.check(name, (lambda fn=fn: f is not None and fn()))

    def ingest_dirs(self) -> list[str]:
        root = os.path.join(self.work, "ingest")
        if not os.path.isdir(root):
            return []
        return [os.path.join(root, d, "state") for d in sorted(os.listdir(root))]


WORKLOADS = {w.name: w for w in (Refresh, Rebuild)}
