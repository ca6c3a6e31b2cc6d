"""Benchmark of the filtered-kNN engine on two seeded workloads.

    python3 perfbench/run.py --workload mixed --seed 1 --seconds 5 --trace 0

Run from the repository root. Each run generates its inputs from
``--seed`` (gen.py) and starts a fresh ``local[nproc]`` session. It sets
the index up once untimed, to pay the one-off costs of the JVM and the
Python workers, then TIMED_SETUPS times timed (``setup_s``); it searches
timed batches on the last index while fewer than ``--seconds`` have
passed (``qps``), and checks every answer against the engine-independent
ground truth (answers.py). The last line of standard output is the
result JSON; the line before it holds the raw detail of the run.

``--trace 1`` makes the same untimed set-up, then one set-up and, after
two untimed batches (cold and warm), one batch with every layer called
separately from here, each inside a span (spans.py),
folds the last rows of the corpus into an index built without them, and
reports per-layer time and Spark counters instead of the end-to-end
metrics. README.md describes the workloads and the metrics.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import math
import os
import shutil
import statistics
import sys
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

WORKLOADS = ("mixed", "selective")
K = 100
DIM = 100
# Shards at or under this many rows answer by exact GEMM, larger ones
# walk the graph. The engine default (4096) only lets beams walk from
# about 41k rows; at this corpus size the same split needs a lower cut.
GEMM_THR = 1024
# On a shared 4-vCPU host a run spends about 35 s on one-off costs (JVM
# and Python worker start, the untimed set-up), a warm set-up takes
# 8-12 s and the first batch 7-14 s. 48 runs have to end within the hour,
# so a run times one set-up and as many batches as start within
# --seconds, at least one. An untimed warm-up batch would add 8-14 s to
# every run, and the warm batch after it spread as widely over ten runs.
TIMED_SETUPS = 1
MIN_TIMED_BATCHES = 1
CROSSCHECK_QUERIES = 32
DRIVER_MEMORY = "2g"

LAYERS = (
    "read_base_bin",
    "corpus_stats",
    "train_alpha",
    "shard_plan",
    "build_index",
    "route_plan",
    "knn_sq8_rerank",
    "assignments",
    "graph_search",
    "exact_rerank_pooled",
    "collect",
    "upsert_index_epoch",
    "knn_exact_arrow",
)


def pin_environment() -> None:
    """Session settings through the variables ``session.get_spark``
    reads, and every temporary file inside the benchmark directory."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM (Spark's launcher too) keeps its temp files there, and
    # -UsePerfData stops it from writing its stats file under /tmp
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f)) for root, _, files in os.walk(path) for f in files
    )


class Bench:
    def __init__(self, spark, workload: str, data: dict, tracer=None):
        from pyspark import StorageLevel

        self.spark, self.workload, self.data, self.tracer = spark, workload, data, tracer
        self.level = StorageLevel.MEMORY_AND_DISK
        self.nq = len(data["preds"])
        self.checks = {
            "attempted": 0, "failed": 0, "fails": {}, "fail_examples": {},
            "recall_sum": {}, "recall_n": {},
        }

    def span(self, layer: str, **counts):
        return self.tracer.span(layer, **counts) if self.tracer else nullcontext(counts)

    def gc(self) -> None:
        gc.collect()
        self.spark._jvm.System.gc()

    def persisted(self) -> set[int]:
        return set(self.spark.sparkContext._jsc.getPersistentRDDs().keySet())

    # ---------------------------------------------------------------- set-up

    def setup(self) -> dict:
        """Decode, profile, build; ends when the pkey-partitioned index
        is persisted and counted."""
        from sigmod_2024_contest_spark.functions import quantization as Q
        from sigmod_2024_contest_spark.operators import engine, routing
        from sigmod_2024_contest_spark.operators import stats as stats_ops
        from sigmod_2024_contest_spark.sources import bin_format

        t0 = time.perf_counter()
        with self.span("read_base_bin") as c:
            base = bin_format.read_base_bin(self.spark, self.data["paths"]["base.bin"], dim=DIM)
            base = base.persist(self.level)
            c["rows"] = n = base.count()
        with self.span("corpus_stats"):
            st = stats_ops.corpus_stats(base, routing.ROUTING_TS_BINS)
        with self.span("train_alpha"):
            alpha = Q.train_alpha(base)
        with self.span("shard_plan"):
            splan = engine._shard_plan(base, routing.CAT_GRAPH_THR, engine.MAX_NODES_PER_GRAPH)
        with self.span("build_index") as c:
            index = engine.partition_index_for_search(
                engine.build_index(base, graph_min_nodes=GEMM_THR, shard_plan=splan, alpha=alpha)
            ).persist(self.level)
            c["graph_nodes"] = index.count()
            c["shards"] = sum(splan.values())
            catalog = engine.catalog_from_plan(self.spark, splan)
        return {
            "base": base, "n": n, "st": st, "alpha": alpha, "splan": splan,
            "index": index, "catalog": catalog, "setup_s": time.perf_counter() - t0,
        }

    def index_mb(self, index) -> float:
        """Bytes of the index rows' codes and adjacency lists."""
        from pyspark.sql import functions as F

        row = index.agg(
            F.sum(F.length("codes")).alias("codes"),
            F.sum(F.size("nbrs")).alias("nbrs"),
            F.sum(F.size("nbr_ts")).alias("nbr_ts"),
            F.sum(F.aggregate("upper", F.lit(0), lambda acc, x: acc + F.size(x))).alias("upper"),
        ).collect()[0]
        return (row["codes"] + 4 * row["nbrs"] + 8 * row["nbr_ts"] + 4 * row["upper"]) / (1 << 20)

    def queries(self):
        from sigmod_2024_contest_spark.sources import bin_format

        q = bin_format.read_queries_bin(self.spark, self.data["paths"]["queries.bin"], dim=DIM)
        q = q.persist(self.level)
        q.count()
        return q

    # ---------------------------------------------------------------- search

    def search(self, s: dict, queries):
        """One batch through the engine's entry point: the persisted
        route plan (unpersisted by the caller) and the collected
        (query_id, id, rnk) rows."""
        from sigmod_2024_contest_spark.operators import engine, routing

        plan = routing.route_plan(s["base"], queries, stats=s["st"], dim=DIM).persist()
        res = engine.knn_hybrid(
            self.spark, s["base"], queries, k=K, index=s["index"], plan=plan,
            alpha=s["alpha"], catalog=s["catalog"], corpus_rows=s["n"], dim=DIM,
            gemm_thr=GEMM_THR,
        )
        return plan, res.toPandas()

    def search_traced(self, s: dict, queries):
        """The same batch as ``search`` with each layer called here, in
        the order ``engine.knn_hybrid`` calls them, each inside a span."""
        from pyspark.sql import functions as F

        from sigmod_2024_contest_spark.operators import bruteforce_sq8, engine, knn, routing

        held = []

        def keep(df):
            held.append(df.persist(self.level))
            return held[-1], held[-1].count()

        with self.span("route_plan") as c:
            plan, _ = keep(routing.route_plan(s["base"], queries, stats=s["st"], dim=DIM))
        routes = route_counts(plan)
        for name, cnt in routes.items():
            c[f"q_{name}"] = cnt
        n_bf = routes[routing.ROUTE_BF]
        bf_q = queries.join(plan.filter(F.col("route") == routing.ROUTE_BF).select("query_id"), "query_id")
        with self.span("knn_sq8_rerank", queries=n_bf):
            bf_res, _ = keep(bruteforce_sq8.knn_sq8_rerank(
                s["base"], bf_q, s["alpha"], k=K, corpus_rows=s["n"], dim=DIM,
            ).select("query_id", "id", "rnk"))
        with self.span("assignments") as c:
            assigns, c["pairs"] = keep(engine._assignments(queries, plan, s["catalog"]))
        with self.span("graph_search") as c:
            cands, c["cand_rows"] = keep(engine.graph_search(
                s["index"], assigns, k=K, alpha=s["alpha"], gemm_thr=GEMM_THR,
            ))
            n_graph = self.nq - n_bf
            c["cand_per_result"] = c["cand_rows"] / (n_graph * K) if n_graph else 0.0
        pool_k = max(K, math.ceil(engine.SHARD_REFINE_MULT * K))
        with self.span("exact_rerank_pooled", cand_rows_in=c["cand_rows"]):
            graph_res, _ = keep(knn.exact_rerank_pooled(
                s["base"], queries, cands, K, pool_k, corpus_rows=s["n"], dim=DIM,
            ))
        with self.span("collect"):
            pdf = bf_res.unionByName(graph_res).toPandas()
        for df in held:
            df.unpersist(blocking=True)
        return pdf, routes

    # ---------------------------------------------------------------- checks

    def check(self, pdf) -> None:
        """Checks one batch's answers (answers.check) and adds them to
        the run's tally, with up to five example query ids per check."""
        import answers

        recall, failed = answers.check(
            pdf["query_id"].to_numpy(), pdf["id"].to_numpy(), pdf["rnk"].to_numpy(),
            *(self.data[k] for k in ("cats", "ts", "preds", "gt")), K,
        )
        ck = self.checks
        for name in answers.CHECKS:
            qs = [int(q) for q, f in enumerate(failed) if f == name]
            ck["fails"][name] = ck["fails"].get(name, 0) + len(qs)
            examples = ck["fail_examples"].setdefault(name, [])
            examples.extend(qs[: 5 - len(examples)])
        self.tally(recall, sum(f is not None for f in failed))

    def tally(self, recall, failed: int) -> None:
        import numpy as np

        ck, qtypes = self.checks, self.data["preds"][:, 0]
        ck["attempted"] += self.nq
        ck["failed"] += failed
        for t in np.unique(qtypes).astype(int).tolist():
            sel = qtypes == t
            ck["recall_sum"][t] = ck["recall_sum"].get(t, 0.0) + float(recall[sel].sum())
            ck["recall_n"][t] = ck["recall_n"].get(t, 0) + int(sel.sum())

    def recall_metrics(self) -> dict:
        ck = self.checks
        per_type = [ck["recall_sum"][t] / ck["recall_n"][t] for t in ck["recall_n"]]
        return {
            "recall_at_100": sum(ck["recall_sum"].values()) / sum(ck["recall_n"].values()),
            "recall_at_100_min_type": min(per_type),
            "ok_ratio": 1.0 - ck["failed"] / ck["attempted"],
        }

    def crosscheck(self, s: dict, queries) -> int:
        """Ground truth vs the engine's exact scan on a query sample;
        returns the number of sampled queries whose ranked ids differ."""
        import numpy as np
        from pyspark.sql import functions as F

        from sigmod_2024_contest_spark.operators import knn

        sample = np.linspace(0, self.nq - 1, CROSSCHECK_QUERIES).astype(int).tolist()
        sub = queries.filter(F.col("query_id").isin(sample))
        with self.span("knn_exact_arrow"):
            pdf = knn.knn_exact_arrow(self.spark, s["base"], sub, k=K, corpus_rows=s["n"], dim=DIM).toPandas()
        pdf = pdf.sort_values(["query_id", "rnk"])
        return sum(
            not np.array_equal(pdf.loc[pdf["query_id"] == q, "id"].to_numpy(), self.data["gt"][q])
            for q in sample
        )

    # ---------------------------------------------------------------- runs

    def drop(self, s: dict) -> None:
        """Unpersist a set-up's corpus and index."""
        s["index"].unpersist(blocking=True)
        s["base"].unpersist(blocking=True)

    def batch(self, s: dict, queries, errors: list, routes: dict):
        """Wall of one checked batch through ``search``, None if it
        raised. The batch starts with no persisted RDD beyond the set-up's
        and leaves none behind."""
        import numpy as np

        if self.persisted() != s["persisted"]:
            raise RuntimeError("a batch would start with persisted RDDs beyond the set-up's")
        self.gc()
        plan = None
        try:
            t0 = time.perf_counter()
            plan, pdf = self.search(s, queries)
            wall = time.perf_counter() - t0
            routes.update(route_counts(plan))
        except Exception as e:  # a failed batch fails all of its queries
            errors.append(repr(e))
            self.tally(np.zeros(self.nq), self.nq)
            return None
        finally:
            if plan is not None:
                plan.unpersist(blocking=True)
        self.check(pdf)
        return wall

    def warm_up_setup(self) -> tuple[object, float]:
        """One untimed set-up, dropped: it pays the run's one-off costs
        of the set-up path (JIT, Python worker start and imports).
        Returns the persisted queries and its wall."""
        queries = self.queries()
        s = self.setup()
        self.drop(s)
        return queries, s["setup_s"]

    def timed_setups(self, n: int) -> tuple[dict, list[float]]:
        """``n`` set-ups, each after GC and with the previous one
        dropped; returns the last one, kept, and every wall."""
        walls = []
        for i in range(n):
            self.gc()
            s = self.setup()
            walls.append(s["setup_s"])
            if i < n - 1:
                self.drop(s)
        s["persisted"] = self.persisted()
        return s, walls

    def run(self, seconds: float) -> tuple[dict, dict]:
        import spans

        host0, cpu0 = spans.host_snapshot(), spans.tree_cpu_s(os.getpid())
        errors, routes = [], {}
        queries, cold_setup = self.warm_up_setup()
        s, setup_walls = self.timed_setups(TIMED_SETUPS)
        walls = []
        t_start = time.perf_counter()
        while len(walls) < MIN_TIMED_BATCHES or time.perf_counter() - t_start < seconds:
            walls.append(self.batch(s, queries, errors, routes))
        ok_walls = [w for w in walls if w is not None]
        mismatched = self.crosscheck(s, queries)
        host1, cpu1 = spans.host_snapshot(), spans.tree_cpu_s(os.getpid())
        metrics = {
            "qps": self.nq * len(ok_walls) / sum(ok_walls) if ok_walls else 0.0,
            "setup_s": statistics.median(setup_walls),
            **self.recall_metrics(),
            "index_mb": self.index_mb(s["index"]),
        }
        detail = {
            "workload": self.workload,
            "cold_setup_s": cold_setup,
            "setup_walls_s": setup_walls,
            "batch_walls_s": walls,
            "queries_per_batch": self.nq,
            "routes": routes,
            "shards": sum(s["splan"].values()),
            "checks": self.checks,
            "errors": errors,
            "gt_crosscheck_mismatched": mismatched,
            "host": {
                "steal_s": host1["steal_s"] - host0["steal_s"],
                "loadavg_start": host0["loadavg"],
                "loadavg_end": host1["loadavg"],
                "tree_cpu_s": cpu1 - cpu0,
            },
        }
        return metrics, detail

    def run_traced(self) -> tuple[dict, dict]:
        tracer, self.tracer = self.tracer, None
        errors, routes = [], {}
        queries, cold_setup = self.warm_up_setup()
        self.tracer = tracer
        s, _ = self.timed_setups(1)
        cold = self.batch(s, queries, errors, routes)
        untraced = self.batch(s, queries, errors, routes)
        if errors:
            raise RuntimeError(f"an untraced batch failed: {errors}")
        self.gc()
        first = len(self.tracer.spans)
        t0 = time.perf_counter()
        pdf, routes = self.search_traced(s, queries)
        traced = time.perf_counter() - t0
        covered = sum(sp["totals"]["s"] for sp in self.tracer.spans[first:])
        self.check(pdf)
        mismatched = self.crosscheck(s, queries)
        self.fold_probe(s)
        metrics = self.tracer.metrics(LAYERS)
        metrics.update({
            "cold_setup_s": cold_setup,
            "cold_batch_s": cold,
            "search_batch_s": traced,
            "untraced_batch_s": untraced,
            "trace.overhead_s": traced - untraced,
            "trace.coverage": covered / traced,
        })
        detail = {
            "workload": self.workload, "routes": routes, "checks": self.checks,
            "gt_crosscheck_mismatched": mismatched,
            "spans": self.tracer.records(),
        }
        return metrics, detail

    def fold_probe(self, s: dict) -> None:
        """Fold the last rows of the corpus into an index built without
        them, as one append-only micro-batch, and write the rebuilt
        shards the way the streaming ingest's manifest store does."""
        from pyspark.sql import functions as F

        from sigmod_2024_contest_spark.operators import engine, routing
        from sigmod_2024_contest_spark.sources import layout

        n0 = self.data["n_initial"]
        initial = s["base"].filter(F.col("id") < n0)
        arrivals = s["base"].filter(F.col("id") >= n0)
        splan = engine._shard_plan(initial, routing.CAT_GRAPH_THR, engine.MAX_NODES_PER_GRAPH)
        index = engine.build_index(initial, shard_plan=splan, alpha=s["alpha"]).persist(self.level)
        index.count()
        state = engine._epoch_state_from_plan(splan)
        out = os.path.join(WORK, "run", "fold")
        with self.span("upsert_index_epoch") as c:
            new, state, affected = engine.upsert_index_epoch(index, arrivals, splan, s["alpha"], state)
            layout.save_index(new.filter(F.col("pkey").isin(affected)), out)
            c["shards_rebuilt"] = len(affected)
            c["bytes_written_mb"] = dir_bytes(out) / (1 << 20)
        index.unpersist(blocking=True)


def route_counts(plan) -> dict[str, int]:
    from sigmod_2024_contest_spark.operators import routing

    got = {r["route"]: r["count"] for r in plan.groupBy("route").count().collect()}
    names = (routing.ROUTE_BF, routing.ROUTE_CAT_GRAPH, routing.ROUTE_TIME_GRAPH,
             routing.ROUTE_GLOBAL_GRAPH)
    return {name: got.get(name, 0) for name in names}


def start_session():
    from sigmod_2024_contest_spark.session import get_spark, ship_package

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    ship_package(spark)
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for every process it started."""
    import subprocess

    import spans
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    tree = set(spans.process_tree(os.getpid())) - {os.getpid()}
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the JVM exits on EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in tree):
        time.sleep(0.2)
    for p in tree:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def metric_units(trace: int) -> dict[str, str]:
    """Name -> unit of the metrics a run reports, as BENCHMARK.json at
    the repository root lists them: the end-to-end ones untraced, the
    per-layer ones traced."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    pin_environment()
    sys.path.insert(0, ROOT)
    try:
        import sigmod_2024_contest_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import answers
    import gen
    import spans

    answers.selftest()
    units = metric_units(args.trace)
    shutil.rmtree(os.path.join(WORK, "run"), ignore_errors=True)
    with open(gen.__file__, "rb") as f:  # inputs are reused only from this generator
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    data_dir = os.path.join(WORK, "data", f"{args.workload}-{args.seed}-{version}")
    t0 = time.perf_counter()
    data = gen.generate(args.workload, args.seed, data_dir)
    t1 = time.perf_counter()
    with spans.RssSampler(os.getpid()) as rss:
        spark = start_session()
        t2 = time.perf_counter()
        try:
            bench = Bench(spark, args.workload, data, spans.Tracer(spark) if args.trace else None)
            metrics, detail = bench.run_traced() if args.trace else bench.run(args.seconds)
        finally:
            t3 = time.perf_counter()
            stop_session(spark)
    detail["phases_s"] = {
        "generate": t1 - t0, "session_start": t2 - t1, "bench": t3 - t2,
        "session_stop": time.perf_counter() - t3,
    }
    detail["seed"] = args.seed
    detail["peak_rss_mb"] = rss.peak_mb
    if not args.trace:
        metrics["peak_rss_mb"] = rss.peak_mb
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics {sorted(set(metrics) ^ set(units))} are not in BENCHMARK.json or not measured")
    ck = detail["checks"]
    result = {
        "correct": ck["failed"] == 0 and detail["gt_crosscheck_mismatched"] == 0,
        "attempted": ck["attempted"],
        "failed": ck["failed"],
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    print("perfbench-detail " + json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
