"""The two workloads. Each one generates its inputs from the seed, computes
the oracle's answers, starts Spark, sets up (index build, load, warm-up
rounds), then runs whole timed rounds until ``seconds`` have passed.

Every operation's answer is checked; a wrong answer or an exception is a
failed operation. Latency samples are kept for operations that passed.
"""

from __future__ import annotations

import math
import os
import statistics
import sys
import time
import traceback
from collections import defaultdict

import numpy as np

import gen
import spans as tr
from oracle import Bm25Oracle, check_topk

# serve: a corpus whose materialized index is read from Parquet
SERVE_TURNS = 20_000
SINGLES_PER_ROUND = 8
# batched run_queries calls, run and checked once in set-up
BATCHES = 2
BATCH_SIZE = 8
# untimed rounds before the window (JIT warm-up): after two, the CPU per
# query still fell by a third over the next six rounds
SERVE_WARMUP_ROUNDS = 4
# rounds generated for the window: enough for 100 ms single queries
SERVE_MIN_ROUND_S = 0.8
# prune: a spiky corpus held in Spark storage memory
PRUNE_TURNS = 20_000
SPIKE_FRAC = 0.05
DELTA_TURNS = 400
MARKER_FRAC = 0.25
# serve's traced run: a chain of merges, each delta with its own marker word
MERGES = 2
K = 10


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def _rate(per_call: int, secs: list[float]) -> float:
    """Queries answered per second of batch calls, over all of them."""
    return per_call * len(secs) / sum(secs) if secs else float("nan")


class Run:
    """State shared by a workload's set-up, rounds and reporting."""

    def __init__(self, tmp: str, seed: int, seconds: float, trace: bool):
        self.tmp, self.seed = tmp, seed
        self.seconds, self.trace = seconds, trace
        self.samples: dict[str, list[float]] = defaultdict(list)
        # per timed round: kind -> CPU-seconds of each operation that passed
        self.round_cpu: list[dict[str, list[float]]] = []
        self.attempted = self.failed = 0
        self.correct = True
        self.timed = False
        self.diag: dict = {}
        self.layer: dict[str, float] = {}
        self.cpu_marks: dict[str, float] = {}

    def start_spark(self):
        from bge_m3_onnx_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
        }
        if self.trace:
            self.event_dir = os.path.join(self.tmp, "events")
            os.makedirs(self.event_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
            })
        cores = len(os.sched_getaffinity(0))
        self.cpu_marks["start"] = tr.tree_cpu_s()
        self.t_session0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)
        self.session_s = time.perf_counter() - self.t_session0
        self.tracer = tr.Tracer(self.spark.sparkContext, self.trace)
        self.layer["session.start_s"] = self.session_s

    def op(self, kind: str, fn, check):
        """Run one operation: time ``fn`` and the CPU the process tree spends
        on it, then check its result outside both. Outside the timed window
        a failure marks the run incorrect."""
        c0 = tr.tree_cpu_s() if self.timed else 0.0
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            out, ok, dt = None, None, 0.0
        else:
            dt = time.perf_counter() - t0
            cpu = tr.tree_cpu_s() - c0 if self.timed else 0.0
            ok = bool(check(out))
        if not self.timed:
            if not ok:
                self.correct = False
            return out
        self.attempted += 1
        if ok:
            self.samples[kind].append(dt)
            self.round_cpu[-1][kind].append(cpu)
        else:
            self.failed += 1
            if ok is False:  # a wrong answer, not an exception
                self.correct = False
        return out

    def window(self, rounds, run_round) -> None:
        """Whole rounds until ``seconds`` have passed (or the pre-generated
        rounds run out)."""
        self.timed = True
        steal0 = tr.host_cpu()
        self.cpu_marks["window0"] = tr.tree_cpu_s()
        t0 = self.t_window0 = time.perf_counter()
        n = 0
        for r in rounds:
            if n and time.perf_counter() - t0 >= self.seconds:
                break
            n += 1
            self.round_cpu.append(defaultdict(list))
            run_round(r, f"r{n}")
        self.diag["window_s"] = round(time.perf_counter() - t0, 3)
        self.diag["rounds"] = n
        self.cpu_marks["window1"] = tr.tree_cpu_s()
        self.diag["window_cpu_s"] = round(self.cpu_marks["window1"] - self.cpu_marks["window0"], 3)
        steal1 = tr.host_cpu()
        total = max(1, steal1[2] - steal0[2])
        self.diag["host_steal_frac"] = round((steal1[0] - steal0[0]) / total, 4)
        # busy share of all CPUs, the run's own tree included: a figure well
        # above window_cpu_s / (window_s * CPUs) means other load in the guest
        self.diag["host_busy_frac"] = round(
            1 - (steal1[1] - steal0[1] + steal1[0] - steal0[0]) / total, 4)
        self.timed = False

    def setup_s(self, excluded: float) -> float:
        """Session start until the first timed operation, less ``excluded``
        seconds of traced-only work."""
        return self.t_window0 - self.t_session0 - excluded

    def cpu_ms(self, kind: str) -> float:
        """CPU-milliseconds of the process tree per operation of ``kind``, over
        the whole window. A mean, not a median: the JVM compiles the code
        Spark generates for new plans in bursts, and that work is part of
        what each query costs."""
        xs = [x for r in self.round_cpu for x in r.get(kind, [])]
        return 1e3 * sum(xs) / len(xs) if xs else float("nan")

    def latency_diag(self, kind: str) -> None:
        xs = self.samples.get(kind, [])
        h = len(xs) // 2
        self.diag[kind] = {
            "n": len(xs),
            "round_cpu_ms": [round(1e3 * sum(r[kind]) / len(r[kind]), 1)
                             for r in self.round_cpu if r.get(kind)],
            "p50_ms": round(1e3 * _median(xs), 2),
            "first_half_p50_ms": round(1e3 * _median(xs[:h]), 2) if h else None,
            "second_half_p50_ms": round(1e3 * _median(xs[h:]), 2) if h else None,
        }

    # ---- traced-run helpers -----------------------------------------------

    def wrap_df_lookup(self, idx) -> None:
        """Span around ``InvertedIndex.df_for_terms`` on this index instance;
        records Σdf of what it returns."""
        if not self.trace:
            return
        inner = idx.df_for_terms

        def df_for_terms(terms):
            with self.tracer.span("query.df_lookup") as sid:
                out = inner(terms)
            self.tracer.spans[sid]["postings"] = int(sum(out.values()))
            return out

        idx.df_for_terms = df_for_terms

    def tokenizer_kernel(self, transcripts) -> None:
        """Traced runs only: the document tokenizer kernel alone, through a
        no-op sink over ``counted_docs``."""
        from bge_m3_onnx_spark.operators.postings import counted_docs

        with self.tracer.span("tokenizer.kernel") as sid:
            counted_docs(transcripts).write.format("noop").mode("overwrite").save()
        self.layer["tokenizer.kernel_s"] = self._dur(sid)

    def compress_stats(self, idx, n_postings: int) -> None:
        from pyspark.sql import functions as F

        row = idx.blocks.agg(
            F.count("*").alias("blocks"),
            F.sum(F.length("ords_vb") + F.length("tfs_vb") + F.length("dls_vb")).alias("payload"),
        ).collect()[0]
        self.layer["compress.blocks"] = int(row["blocks"])
        self.layer["compress.payload_mb"] = int(row["payload"]) / 1e6
        self.layer["compress.bytes_per_posting"] = int(row["payload"]) / max(1, n_postings)

    def _dur(self, sid) -> float:
        s = self.tracer.spans[sid]
        return s["end"] - s["start"]

    def finish_trace(self, jm: dict) -> dict:
        """Per-layer metrics from the spans and event-log job metrics. Every
        name is always present; a layer a workload does not reach reads 0."""
        t = self.tracer
        t.self_times()
        L = dict.fromkeys(LAYER_METRICS, 0.0)
        L.update(self.layer)

        def first_round(name):
            return [s for s in t.by_name(name) if s["op"] and s["op"].startswith("r1.")]

        def per(spans, key):
            return [rollup[key] for rollup in (tr.rollup(t, jm, s["id"]) for s in spans)]

        stages = [s for s in t.spans if s["op"] == "build"
                  and s["name"].removeprefix("checkpoint.") in STAGES]
        for s in stages:
            m = tr.rollup(t, jm, s["id"])
            L[f"{s['name']}.shuffle_write_mb"] = m["shuffle_write"] / 1e6
            L[f"{s['name']}.executor_cpu_s"] = m["cpu_s"]
        plans = first_round("query.plan")
        execs = first_round("query.exec")
        if plans:
            L["query.plan_ms"] = 1e3 * _median([s["end"] - s["start"] for s in plans])
            L["query.exec_ms"] = 1e3 * _median([s["end"] - s["start"] for s in execs])
            ops = [s for s in t.spans if s["name"] in ("query.plan", "query.exec")
                   and s["op"] and s["op"].startswith("r1.")]
            by_op = defaultdict(list)
            for s in ops:
                by_op[s["op"]].append(s)
            L["query.jobs"] = _median([sum(per(v, "jobs")) for v in by_op.values()])
            L["query.tasks"] = _median([sum(per(v, "tasks")) for v in by_op.values()])
            L["query.input_mb"] = _median([sum(per(v, "input")) / 1e6 for v in by_op.values()])
            L["query.executor_cpu_ms"] = _median([1e3 * sum(per(v, "cpu_s")) for v in by_op.values()])
        lookups = [s for s in first_round("query.df_lookup")
                   if t.spans[s["parent"]]["name"] == "query.plan"]
        if lookups:
            L["query.df_lookup_ms"] = 1e3 * _median([s["end"] - s["start"] for s in lookups])
            scanned = sum(s["postings"] for s in lookups)
            L["query.postings_scanned"] = scanned
            L["query.useful_ratio"] = sum(s.get("rows", 0) for s in execs) / max(1, scanned)
        wands = first_round("wand.forced")
        if wands:
            st = [s["stats"] for s in wands]
            L["wand.theta_s"] = _median([x.get("t_theta_sec", 0.0) for x in st])
            L["wand.final_s"] = _median([x.get("t_final_sec", 0.0) for x in st])
            for name, key in (("blocks_total", "blocks_total"), ("blocks_surviving", "blocks_surviving"),
                              ("blocks_extra_decoded", "blocks_extra_decoded"),
                              ("candidates", "n_candidates"), ("strong", "n_strong")):
                L[f"wand.{name}"] = sum(int(x.get(key, 0)) for x in st)
            L["wand.survival"] = L["wand.blocks_surviving"] / max(1, L["wand.blocks_total"])
            L["wand.jobs"] = _median(per(wands, "jobs"))
            L["wand.tasks"] = _median(per(wands, "tasks"))
            L["wand.shuffle_write_kb"] = _median([b / 1e3 for b in per(wands, "shuffle_write")])
        L["wand.router_exact"] = sum(
            1 for s in first_round("query.plan") if s.get("router") == "exact"
        )
        merges = t.by_name("incremental.merge_call")
        if merges:
            mats = t.by_name("incremental.merge_materialize")
            L["incremental.merge_call_s"] = _median([s["end"] - s["start"] for s in merges])
            L["incremental.merge_materialize_s"] = _median([s["end"] - s["start"] for s in mats])
            pairs = list(zip(merges, mats))
            L["incremental.merge_jobs"] = _median([sum(per(p, "jobs")) for p in pairs])
            L["incremental.merge_shuffle_write_mb"] = _median(
                [sum(per(p, "shuffle_write")) / 1e6 for p in pairs])
            L["incremental.merge_executor_cpu_s"] = _median([sum(per(p, "cpu_s")) for p in pairs])
        c = self.cpu_marks
        L["process.setup_cpu_s"] = c["window0"] - c["start"]
        L["process.window_cpu_s"] = c["window1"] - c["window0"]
        return L

    def traced_query(self, fn_plan, op: str, router: bool = False):
        """``fn_plan(stats)`` returns the lazy result; collect it. Returns rows."""
        st = {} if (self.trace and router) else None
        with self.tracer.span("query.plan", op) as sid:
            df = fn_plan(st)
        if sid is not None and st is not None:
            self.tracer.spans[sid]["router"] = st.get("router_choice")
        with self.tracer.span("query.exec", op) as eid:
            rows = df.collect()
        if eid is not None:
            self.tracer.spans[eid]["rows"] = len(rows)
        return rows


STAGES = ("tokenized", "docs", "postings", "terms", "stats", "blocks")
LAYER_METRICS = (
    ["session.start_s"]
    + [f"checkpoint.{s}_s" for s in STAGES]
    + [f"checkpoint.{s}_mb" for s in ("tokenized", "docs", "postings", "terms", "blocks")]
    + [f"checkpoint.{s}_rows" for s in STAGES]
    + [f"checkpoint.{s}.{m}" for s in STAGES for m in ("shuffle_write_mb", "executor_cpu_s")]
    + ["tokenizer.kernel_s", "build_index.s", "postings.rows", "terms.rows",
       "compress.blocks", "compress.payload_mb", "compress.bytes_per_posting",
       "query.plan_ms", "query.exec_ms", "query.df_lookup_ms", "query.postings_scanned",
       "query.jobs", "query.tasks", "query.input_mb", "query.executor_cpu_ms",
       "query.useful_ratio",
       "wand.router_exact", "wand.theta_s", "wand.final_s", "wand.blocks_total",
       "wand.blocks_surviving", "wand.blocks_extra_decoded", "wand.candidates",
       "wand.strong", "wand.survival", "wand.jobs", "wand.tasks", "wand.shuffle_write_kb",
       "incremental.merge_call_s", "incremental.merge_materialize_s",
       "incremental.merge_jobs", "incremental.merge_shuffle_write_mb",
       "incremental.merge_executor_cpu_s",
       "process.setup_cpu_s", "process.window_cpu_s"]
)


def _by_qid(rows) -> dict[int, list[tuple[int, str, float]]]:
    out: dict[int, list] = defaultdict(list)
    for r in rows:
        out[int(r["query_id"])].append((int(r["rank"]), r["doc_id"], float(r["score"])))
    return out


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


# ---- serve ----------------------------------------------------------------

def serve(run: Run) -> dict:
    """Materialized, bucketed Parquet index; routed single queries through
    ``run_queries_wand``, after batched ``run_queries`` calls in set-up. A
    traced run also merges a chain of deltas into the index after the
    window."""
    rng = np.random.default_rng([run.seed, 1])
    names = gen.with_markers(gen.vocab_names(rng), MERGES, run.seed)
    base = gen.make_corpus(rng, names, SERVE_TURNS, f"s{run.seed:x}-")
    base_path = os.path.join(run.tmp, "base.parquet")
    gen.write_parquet(base, base_path)
    oracle = Bm25Oracle(base)
    n_rounds = SERVE_WARMUP_ROUNDS + 1 + math.ceil(run.seconds / SERVE_MIN_ROUND_S)
    stream = gen.serve_queries(rng, names, oracle.df, n_rounds * SINGLES_PER_ROUND)
    rounds = [stream[i * SINGLES_PER_ROUND:(i + 1) * SINGLES_PER_ROUND] for i in range(n_rounds)]
    wants = [[oracle.topk(q, K) for q in rq] for rq in rounds]
    bstream = gen.serve_queries(rng, names, oracle.df, BATCHES * BATCH_SIZE)
    batches = [dict(enumerate(bstream[j * BATCH_SIZE:(j + 1) * BATCH_SIZE], start=1))
               for j in range(BATCHES)]
    batch_wants = [{i: oracle.topk(q, K) for i, q in b.items()} for b in batches]
    chain = _delta_chain(run, rng, names, base, "s", list(batches[-1].values()))

    from bge_m3_onnx_spark.plans.checkpoint import STAGES, load_materialized, materialize_index
    from bge_m3_onnx_spark.plans.query import run_queries
    from bge_m3_onnx_spark.plans.wand import run_queries_wand

    run.start_spark()
    spark, tracer = run.spark, run.tracer
    transcripts = spark.read.parquet(base_path)
    index_dir = os.path.join(run.tmp, "index")
    stage_span = [None]

    def on_stage(name):
        tracer.end(stage_span[0])
        stage_span[0] = tracer.begin(f"checkpoint.{name}", "build")

    t0 = time.perf_counter()
    with tracer.span("checkpoint.materialize_index", "build"):
        man = materialize_index(spark, transcripts, index_dir, input_path=base_path,
                                on_stage=on_stage)
        tracer.end(stage_span[0])
    build_s = time.perf_counter() - t0
    idx = load_materialized(spark, index_dir)
    load_s = time.perf_counter() - t0 - build_s
    run.correct &= (
        all(man.stages.get(s, {}).get("status") == "done" for s in STAGES)
        and idx.n_docs == base.n
        and man.stages["postings"]["rows"] == len(oracle.p_term)
    )
    for s in STAGES:
        info = man.stages[s]
        run.layer[f"checkpoint.{s}_s"] = info["wall_ms"] / 1e3
        run.layer[f"checkpoint.{s}_rows"] = info.get("rows", 0)
        if s != "stats":
            run.layer[f"checkpoint.{s}_mb"] = info["bytes"] / 1e6
    run.layer["postings.rows"] = man.stages["postings"]["rows"]
    run.layer["terms.rows"] = man.stages["terms"]["rows"]
    index_bytes = _dir_bytes(index_dir)
    traced_s = 0.0
    if run.trace:  # traced-only work stays out of setup_s
        t = time.perf_counter()
        run.tokenizer_kernel(transcripts)
        run.compress_stats(idx, man.stages["postings"]["rows"])
        traced_s = time.perf_counter() - t
    run.wrap_df_lookup(idx)

    def run_round(ri, tag):
        for i, (q, w) in enumerate(zip(rounds[ri], wants[ri])):
            run.op(
                "single",
                lambda q=q, i=i: run.traced_query(
                    lambda st: run_queries_wand(spark, idx, {1: q}, k=K, stats_out=st),
                    f"{tag}.s{i}", router=True),
                lambda rows, q=q, w=w: check_topk(_tuples(rows), oracle, q, K, w),
            )

    t0 = time.perf_counter()
    for r in range(SERVE_WARMUP_ROUNDS):
        with tracer.span("warmup", f"w{r}"):
            run_round(r, f"w{r}")
    # batched calls: checked, and timed for the diagnostics only
    batch_s = []

    def batch_call(batch, j):
        tb = time.perf_counter()
        rows = run.traced_query(lambda st: run_queries(spark, idx, batch, k=K), f"w.b{j}")
        batch_s.append(time.perf_counter() - tb)
        return rows

    for j, (batch, bw) in enumerate(zip(batches, batch_wants)):
        run.op("batch", lambda batch=batch, j=j: batch_call(batch, j),
               lambda rows, batch=batch, bw=bw: _check_batch(rows, oracle, batch, bw))
    warm_s = time.perf_counter() - t0
    run.window(range(SERVE_WARMUP_ROUNDS, n_rounds), run_round)
    if run.trace:
        _run_chain(run, idx, chain)

    run.diag.update({
        "session_s": round(run.session_s, 3),
        "build_s": round(build_s, 3),
        "build_turns_per_s": round(base.n / build_s, 1),
        "load_s": round(load_s, 3),
        "warmup_s": round(warm_s, 3),
    })
    run.latency_diag("single")
    xs = sorted(run.samples["single"])
    if xs:
        run.diag["single"]["p90_ms"] = round(1e3 * xs[min(len(xs) - 1, int(0.9 * len(xs)))], 2)
    run.diag["single_ms"] = [round(1e3 * x) for x in run.samples["single"]]
    run.diag["batch_ms"] = [round(1e3 * x) for x in batch_s]
    run.diag["batch_queries_per_s"] = round(_rate(BATCH_SIZE, batch_s), 2)
    return {
        "setup_s": (run.setup_s(traced_s), "s"),
        "query_cpu_ms": (run.cpu_ms("single"), "ms"),
        "index_mb": (index_bytes / 1e6, "MB"),
    }


def _check_batch(rows, oracle, batch: dict[int, str], wants: dict[int, list]) -> bool:
    got = _by_qid(rows)
    return all(check_topk(got.get(i, []), oracle, q, K, wants[i]) for i, q in batch.items())


def _delta_chain(run: Run, rng, names, base, prefix: str, queries: list[str]) -> list[dict]:
    """Deltas for the merge chain and what the index must answer after each
    merge. Generated in every run, traced or not, so both see the same
    inputs."""
    out, corpus = [], base
    for g in range(MERGES):
        d = gen.make_corpus(rng, names, DELTA_TURNS, f"{prefix}d{g}x{run.seed:x}-",
                            spike_frac=SPIKE_FRAC, marker=gen.VOCAB + g, marker_frac=MARKER_FRAC)
        path = os.path.join(run.tmp, f"delta{g}.parquet")
        gen.write_parquet(d, path)
        corpus = corpus.concat(d)
        o = Bm25Oracle(corpus)
        marker = names[gen.VOCAB + g]
        batch = dict(enumerate(queries, start=1))
        out.append({
            "path": path, "oracle": o, "marker": marker, "carriers": o.docs_with(marker),
            "marker_topk": o.topk(marker, DELTA_TURNS), "postings": len(o.p_term),
            "n_docs": corpus.n, "batch": batch,
            "batch_topk": {i: o.topk(q, K) for i, q in batch.items()},
        })
    return out


def _run_chain(run: Run, idx, chain: list[dict]) -> None:
    """Merge each delta, materialize the successor, release the superseded
    generation, then check read-after-write through the delta's marker and,
    after the last merge, a query batch against the oracle over base plus
    deltas. Untimed: it feeds the ``incremental.*`` layer metrics."""
    from bge_m3_onnx_spark.plans.query import run_queries
    from bge_m3_onnx_spark.plans.wand import run_queries_wand
    from bge_m3_onnx_spark.streaming.incremental import merge_delta

    spark, tracer = run.spark, run.tracer
    for g, e in enumerate(chain):
        op = f"m{g}"

        def merge(cur=idx):
            with tracer.span("incremental.merge_call", op):
                nxt = merge_delta(spark, cur, spark.read.parquet(e["path"]))
            with tracer.span("incremental.merge_materialize", op):
                return nxt, [nxt.postings.count(), nxt.docs.count(), nxt.blocks.count()]

        out = run.op("merge", merge, lambda o, e=e: o[0].n_docs == e["n_docs"]
                     and o[1][:2] == [e["postings"], e["n_docs"]])
        if out is None:
            return
        idx.release()  # the successor is materialized
        idx = out[0]
        run.op(
            "marker",
            lambda e=e, idx=idx: run.traced_query(
                lambda st: run_queries_wand(spark, idx, {1: e["marker"]}, k=DELTA_TURNS,
                                            stats_out=st), op, router=True),
            lambda rows, e=e: {r["doc_id"] for r in rows} == e["carriers"] and check_topk(
                _tuples(rows), e["oracle"], e["marker"], DELTA_TURNS, e["marker_topk"]),
        )
    e = chain[-1]
    run.op(
        "batch",
        lambda: run.traced_query(lambda st: run_queries(spark, idx, e["batch"], k=K), "chain"),
        lambda rows: _check_batch(rows, e["oracle"], e["batch"], e["batch_topk"]),
    )


# ---- prune ----------------------------------------------------------------

def prune(run: Run) -> dict:
    """Cached index from ``build_index(with_blocks=True)`` over a spiky
    corpus; the pruning shapes through forced WAND and through
    ``run_queries`` (bit-identical)."""
    rng = np.random.default_rng([run.seed, 2])
    names = gen.vocab_names(rng)
    base = gen.make_corpus(rng, names, PRUNE_TURNS, f"p{run.seed:x}-", spike_frac=SPIKE_FRAC)
    base_path = os.path.join(run.tmp, "base.parquet")
    gen.write_parquet(base, base_path)
    oracle = Bm25Oracle(base)
    shapes = gen.prune_queries(rng, names, oracle.df)
    wants = [oracle.topk(q, k) for _, k, q in shapes]

    from bge_m3_onnx_spark.plans.build_index import build_index
    from bge_m3_onnx_spark.plans.query import run_queries
    from bge_m3_onnx_spark.plans.wand import run_queries_wand

    run.start_spark()
    spark, tracer = run.spark, run.tracer
    transcripts = spark.read.parquet(base_path)
    t0 = time.perf_counter()
    with tracer.span("build_index", "build"):
        idx = build_index(transcripts, with_blocks=True)
        counts = [rel.count() for rel in (idx.postings, idx.terms, idx.docs, idx.blocks)]
    build_s = time.perf_counter() - t0
    run.correct &= counts[0] == len(oracle.p_term) and idx.n_docs == base.n
    # nothing else is cached: the storage in use is the index's
    storage_bytes = sum(
        i.memSize() + i.diskSize() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    )
    run.layer["build_index.s"] = build_s
    run.layer["postings.rows"] = counts[0]
    run.layer["terms.rows"] = counts[1]
    traced_s = 0.0
    if run.trace:
        t = time.perf_counter()
        run.tokenizer_kernel(transcripts)
        run.compress_stats(idx, counts[0])
        traced_s = time.perf_counter() - t
    run.wrap_df_lookup(idx)

    def forced(q, k, op):
        st = {} if run.trace else None
        with tracer.span("wand.forced", op) as sid:
            rows = run_queries_wand(spark, idx, {1: q}, k=k, force_wand=True, stats_out=st).collect()
        if sid is not None:
            tracer.spans[sid]["stats"] = st
        return rows

    def run_round(_, tag):
        for (name, k, q), want in zip(shapes, wants):
            op = f"{tag}.{name}"
            wand_rows = run.op("wand", lambda q=q, k=k, op=op: forced(q, k, op),
                               lambda rows, q=q, k=k, want=want: check_topk(
                                   _tuples(rows), oracle, q, k, want))
            # lossless pruning: the exact plan returns the same rows, bit for bit
            run.op(
                "exact",
                lambda q=q, k=k, op=op: run.traced_query(
                    lambda st: run_queries(spark, idx, {1: q}, k=k), op),
                lambda rows, q=q, k=k, want=want, w=wand_rows: check_topk(
                    _tuples(rows), oracle, q, k, want)
                and w is not None and _tuples(w) == _tuples(rows),
            )

    t0 = time.perf_counter()
    with tracer.span("warmup", "w0"):
        run_round(0, "w0")
    warm_s = time.perf_counter() - t0
    run.window(range(1, 2 + math.ceil(run.seconds)), run_round)

    run.diag.update({
        "session_s": round(run.session_s, 3),
        "build_s": round(build_s, 3),
        "build_turns_per_s": round(base.n / build_s, 1),
        "warmup_s": round(warm_s, 3),
    })
    run.latency_diag("wand")
    run.latency_diag("exact")
    run.diag["wand"]["by_shape_ms"] = [round(1e3 * x) for x in run.samples["wand"]]
    run.diag["exact"]["by_shape_ms"] = [round(1e3 * x) for x in run.samples["exact"]]
    run.diag["exact"]["cpu_ms"] = round(run.cpu_ms("exact"), 1)
    run.diag["wand"]["by_shape_cpu_ms"] = [round(1e3 * x) for r in run.round_cpu for x in r["wand"]]
    return {
        "setup_s": (run.setup_s(traced_s), "s"),
        "query_cpu_ms": (run.cpu_ms("wand"), "ms"),
        "index_mb": (storage_bytes / 1e6, "MB"),
    }


def _tuples(rows) -> list[tuple[int, str, float]]:
    return sorted((int(r["rank"]), r["doc_id"], float(r["score"])) for r in rows)


WORKLOADS = {"serve": serve, "prune": prune}
