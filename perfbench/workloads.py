"""The benchmark's workloads: ``batch`` and ``serve_walks``.

Each workload has the same life cycle, driven by ``run.py``:

- ``setup_inputs()``  builds the seeded inputs; repeated to time set-up;
- ``warm_up()``       untimed, so JIT, codegen and caches are warm;
- ``run_pass(tracer)`` one timed pass of the fixed operation list, its
                      parts marked on ``tracer`` (a no-op one when
                      untraced); returns the outputs to check;
- ``check(out)``      untimed output checks, one verdict per operation;
- ``layer_metrics()`` per-layer numbers from the spans of a traced pass.

Only the public ``cassovary_spark`` API is called. Operators and kernels
are looked up on their modules at call time so a traced pass can wrap them.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import urllib.error
import urllib.request
from math import comb

import numpy as np

from perfbench import inputs
from perfbench.stats import median
from perfbench.tracing import Tracer

LOCAL_OPS = [
    "pagerank",
    "connected_components",
    "label_propagation",
    "personalized_pagerank",
    "triangle_count",
]
KERNELS = {
    "pagerank_numpy": "pagerank",
    "connected_components_numpy": "cc",
    "label_propagation_numpy": "lpa",
    "ppr_numpy": "ppr",
    "triangle_count_numpy": "triangles",
}
DOC_FUNCTIONS = ["exact_dedup", "minhash_lsh", "cosine_top_k"]


def _arrow_cols(df, *cols) -> list[np.ndarray]:
    tbl = df.select(*cols).toArrow()
    return [tbl.column(c).to_numpy(zero_copy_only=False) for c in cols]


def _turn_facts(transcripts) -> tuple[np.ndarray, np.ndarray, int]:
    """Turn edges derived with numpy from ``(conv_id, turn_idx)``: vertex id
    is ``conversation ordinal << 16 | turn``, an edge joins each turn to the
    next. Returns ``(src, dst, distinct tools)``."""
    conv, turn = _arrow_cols(transcripts, "conv_id", "turn_idx")
    ordinal = np.array([int(c[4:]) for c in conv], dtype=np.int64)
    vid = (ordinal << 16) | turn.astype(np.int64)
    order = np.lexsort((turn, ordinal))
    vid, ordinal = vid[order], ordinal[order]
    same = ordinal[1:] == ordinal[:-1]
    tools = transcripts.filter("tool IS NOT NULL").select("tool").distinct().count()
    return vid[:-1][same], vid[1:][same], tools


def install_engine_wrappers(tracer) -> None:
    """Wrap the public operator, kernel, layout and state functions the
    workloads reach."""
    import cassovary_spark.operators as O
    import cassovary_spark.plans as P
    from cassovary_spark.checkpoint import StateScratch
    from cassovary_spark.operators import local_engine as LE

    for fn in LOCAL_OPS:
        tracer.wrap(O, fn, f"operators.{fn}", counted=True)
    tracer.wrap(LE, "edges_to_numpy", "local_engine.transfer")
    tracer.wrap(LE, "result_df", "local_engine.result")
    for fn, short in KERNELS.items():
        on_call = None
        if fn == "pagerank_numpy":
            def on_call(rec, args, kwargs, out):
                rec["edges"] = len(args[1])
                rec["iterations"] = out[2]
        tracer.wrap(LE, fn, f"local_engine.kernel.{short}", on_call=on_call)

    def record_partitions(rec, args, kwargs, out):
        rec["partitions"] = out

    tracer.wrap(P, "choose_partitions", "plans.choose_partitions", on_call=record_partitions)
    # each state round-trip opens the job group of the next superstep
    tracer.wrap(StateScratch, "roundtrip", "checkpoint.roundtrip",
                before=lambda: tracer.jobs.switch("superstep"))


def _op_layer_metrics(tracer, phase: str, suffix: str = "") -> dict:
    """Per-call operator metrics of one phase of a traced pass."""
    m: dict = {}
    spans = [s for s in tracer.spans if s.get("phase") == phase]
    overhead = 0.0
    for fn in LOCAL_OPS:
        calls = [s for s in spans if s["name"] == f"operators.{fn}"]
        if not calls:
            continue
        call = calls[0]
        act = [s for s in spans if s["name"] == f"operators.{fn}.action"]
        m[f"operators.{fn}{suffix}_s"] = tracer.duration(call) + sum(
            tracer.duration(a) for a in act)
        inner = [s for s in tracer.spans if s["parent"] == call["id"]
                 and s["name"].startswith("local_engine.")]
        if inner:
            overhead += tracer.duration(call) - sum(tracer.duration(s) for s in inner)
        g = call.get("jobs")
        if g is not None and not suffix:
            m[f"operators.jobs_per_call.{fn}"] = g["jobs"]
            m[f"operators.stages_per_call.{fn}"] = g["stages"]
            m[f"operators.tasks_per_call.{fn}"] = g["tasks"]
    if not suffix:
        m["operators.route_overhead_s"] = overhead
    return m


def _local_engine_metrics(tracer, spans: list[dict], actions: list[dict]) -> dict:
    m: dict = {
        "local_engine.transfer_s": sum(
            tracer.duration(s) for s in spans if s["name"] == "local_engine.transfer"),
        "local_engine.result_s": sum(
            tracer.duration(s) for s in spans if s["name"] == "local_engine.result")
        + sum(tracer.duration(a) for a in actions),
    }
    for short in KERNELS.values():
        ks = [s for s in spans if s["name"] == f"local_engine.kernel.{short}"]
        if ks:
            m[f"local_engine.kernel_s.{short}"] = sum(tracer.duration(s) for s in ks)
    pr = [s for s in spans if s["name"] == "local_engine.kernel.pagerank"]
    if pr and pr[0]["iterations"]:
        m["local_engine.ns_per_edge_iter"] = (
            tracer.duration(pr[0]) * 1e9 / (pr[0]["edges"] * pr[0]["iterations"]))
    return m


# ---------------------------------------------------------------- batch
class Batch:
    """Three phases on one warm session, as one fixed operation list:

    - ``turns_local``: read transcripts parquet -> ``turn_edges`` (not
      persisted) -> PageRank to 1e-6, CC, LPA(5) on the auto (local
      numpy) engine. The graph is large enough (~240k edges) that the
      engine's numpy arrays are a visible share of the process's peak RSS.
      Personalized PageRank is left to ``serve_walks``, where every
      request is one call.
    - ``turns_dist``: PageRank for a fixed number of distributed supersteps
      on turn edges persisted in set-up.
    - ``docs_kernels``: exact dedup, MinHash-LSH candidates and cosine top-k
      inside one ``cache_scope()``.

    A traced pass adds untimed work (``traced_extras``).
    """

    name = "batch"
    LOCAL_CONVS = 15_000
    DIST_CONVS = 1000
    DIST_SUPERSTEPS = 3
    N_DOCS = 1000
    N_VECS = 1000
    DIM = 32
    N_QUERIES = 20

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.facts: dict | None = None
        self._persisted: list = []

    # ------------------------------------------------------------ set-up
    def setup_inputs(self) -> None:
        from cassovary_spark.sources import synth_transcripts, turn_edges

        for df in self._persisted:
            df.unpersist()
        self._persisted = []
        spark, seed = self.spark, self.seed
        self.turns_path = os.path.join(self.work, "transcripts.parquet")
        synth_transcripts(spark, n_convs=self.LOCAL_CONVS, seed=seed).write.mode(
            "overwrite").parquet(self.turns_path)

        self.dist_turns = synth_transcripts(spark, n_convs=self.DIST_CONVS, seed=seed + 1)
        self.dist_edges = turn_edges(self.dist_turns).persist()
        self.dist_edges.count()

        self.docs = spark.createDataFrame(inputs.documents(self.N_DOCS, seed)).persist()
        self.emb = spark.createDataFrame(
            inputs.embeddings(self.N_VECS, self.DIM, seed),
            "vec_id long, embedding array<float>, label int",
        ).persist()
        self.docs.count()
        self.emb.count()
        self._persisted = [self.dist_edges, self.docs, self.emb]

        self.query_ids = inputs.pick(np.arange(self.N_VECS), self.N_QUERIES, seed, 3)
        self.queries = self.emb.filter(self.emb.vec_id.isin(self.query_ids))

    def warm_up(self) -> None:
        self.run_pass(Tracer())

    def install_wrappers(self, tracer) -> None:
        """Nothing beyond the engine wrappers: the batch pass calls every
        operator itself."""

    # ------------------------------------------------------------ timed pass
    @staticmethod
    def _op(tracer, fn, action, *args, **kwargs):
        """Call operator ``fn``, then consume its result with ``action``."""
        import cassovary_spark.operators as O

        out = getattr(O, fn)(*args, **kwargs)
        with tracer.span(f"operators.{fn}.action"):
            action(out)
        return out

    def run_pass(self, tracer: Tracer) -> dict:
        from cassovary_spark import functions as Fn
        from cassovary_spark.sources import turn_edges
        from pyspark.sql import functions as F

        out: dict = {}
        with tracer.phase("turns_local"):
            tr = self.spark.read.parquet(self.turns_path)
            edges = turn_edges(tr)
            with tracer.timed("pagerank_s"):
                res = self._op(tracer, "pagerank", lambda r: r.ranks.count(), edges,
                               max_iterations=None, tolerance=1e-6)
            out["pagerank"] = res.ranks
            out["cc"] = self._op(tracer, "connected_components", lambda d: d.count(), edges)
            out["lpa"] = self._op(tracer, "label_propagation", lambda d: d.count(), edges,
                                  max_iterations=5)
            out["transcripts"] = tr

        with tracer.phase("turns_dist"):
            out["dist_pagerank"] = self._op(
                tracer, "pagerank", lambda r: r.ranks.count(), self.dist_edges,
                max_iterations=self.DIST_SUPERSTEPS, tolerance=1e-6, engine="distributed")

        with tracer.phase("docs_kernels"), Fn.cache_scope():
            with tracer.region("functions.exact_dedup"):
                out["dedup"] = Fn.exact_dedup(self.docs).agg(
                    F.sum("dup_count").alias("s"), F.count("*").alias("n")).first()
            with tracer.region("functions.minhash_lsh"):
                cands = Fn.minhash_lsh_candidates(self.docs, 16, 4, max_bucket_size=100)
                out["lsh"] = cands.agg(
                    F.count("*").alias("n"),
                    F.sum((F.col("a") >= F.col("b")).cast("int")).alias("bad")).first()
            with tracer.region("functions.cosine_top_k"):
                out["cosine"] = Fn.cosine_top_k(self.emb, self.queries, k=10).toArrow()
            out["lsh_frame"] = cands
        Fn.release_caches()
        return out

    # ------------------------------------------------------------ checks
    def _facts(self) -> dict:
        if self.facts is None:
            tr = self.spark.read.parquet(self.turns_path)
            src, dst, tools = _turn_facts(tr)
            dsrc, ddst, _ = _turn_facts(self.dist_turns)
            ref_ids, ref_pr, _ = inputs.reference_pagerank(src, dst)
            dref_ids, dref_pr, _ = inputs.reference_pagerank(
                dsrc, ddst, max_iterations=self.DIST_SUPERSTEPS)
            self.facts = {
                "n_vertices": len(np.unique(np.concatenate([src, dst]))),
                "tools": tools,
                "pr": (ref_ids, ref_pr),
                "dist_pr": (dref_ids, dref_pr),
            }
        return self.facts

    @staticmethod
    def _ranks_match(df, ref_ids, ref_pr) -> str | None:
        ids, pr = _arrow_cols(df, "id", "pagerank")
        order = np.argsort(ids)
        ids, pr = ids[order], pr[order]
        if not np.array_equal(ids, ref_ids):
            return "vertex set differs from the reference"
        if abs(pr.sum() - 1.0) > 1e-9:
            return f"ranks sum to {pr.sum()!r}"
        l1 = float(np.abs(pr - ref_pr).sum())
        if l1 > 1e-6:
            return f"L1 distance {l1:.3g} to the reference power iteration"
        return None

    def _cosine_matches(self, tbl) -> str | None:
        """Top-10 neighbours of each query (itself excluded, ties by id)
        against a brute-force numpy scan of the same vectors."""
        f = self._facts()
        if "cosine" not in f:
            vid, vec = _arrow_cols(self.emb, "vec_id", "embedding")
            V = np.stack(vec).astype(np.float64)
            V /= np.linalg.norm(V, axis=1)[:, None]
            want = {}
            for q in self.query_ids:
                s = V @ V[vid == q][0]
                keep = vid != q
                order = np.lexsort((vid[keep], -s[keep]))[:10]
                want[q] = (vid[keep][order], s[keep][order])
            f["cosine"] = want
        q, v, score = (tbl.column(c).to_numpy(zero_copy_only=False)
                       for c in ("q", "v", "score"))
        if sorted(set(q.tolist())) != sorted(f["cosine"]):
            return "the result does not cover every query"
        for qid, (want_v, want_s) in f["cosine"].items():
            rows = q == qid
            got_s = score[rows]
            order = np.lexsort((v[rows], -got_s))
            if not (np.array_equal(v[rows][order], want_v)
                    and np.allclose(got_s[order], want_s, atol=1e-9)):
                return f"query {qid}: top-10 differs from a brute-force scan"
        return None

    def check(self, out: dict) -> dict[str, str | None]:
        """One verdict per timed operation: None when it passed."""
        f = self._facts()
        convs, n_v = self.LOCAL_CONVS, f["n_vertices"]
        v: dict[str, str | None] = {}
        v["pagerank"] = self._ranks_match(out["pagerank"], *f["pr"])

        ids, comp = _arrow_cols(out["cc"], "id", "component")
        v["cc"] = (None if len(ids) == n_v and len(np.unique(comp)) == convs
                   else f"{len(np.unique(comp))} components, want {convs}")
        ids, lab = _arrow_cols(out["lpa"], "id", "label")
        v["lpa"] = (None if len(ids) == n_v and np.all((lab >> 16) == (ids >> 16))
                    else "a label crossed a conversation")
        if "triangles" in out:
            want = comb(f["tools"], 3)
            v["triangles"] = (None if out["triangles"] == want
                              else f"{out['triangles']} triangles, want C({f['tools']},3)={want}")

        res = out["dist_pagerank"]
        v["dist_pagerank"] = (
            f"{res.iterations} supersteps, want {self.DIST_SUPERSTEPS}"
            if res.iterations != self.DIST_SUPERSTEPS
            else self._ranks_match(res.ranks, *f["dist_pr"]))

        d = out["dedup"]
        v["exact_dedup"] = (None if d["s"] == self.N_DOCS and 0 < d["n"] < self.N_DOCS
                            else f"sum(dup_count)={d['s']}, want {self.N_DOCS}")
        v["minhash_lsh"] = (None if out["lsh"]["n"] > 0 and not out["lsh"]["bad"]
                            else "no candidates, or a pair with a >= b")
        v["cosine_top_k"] = self._cosine_matches(out["cosine"])
        return v

    # ------------------------------------------------------------ traced extras
    def traced_extras(self, out: dict, tracer: Tracer) -> None:
        """Untimed work that only a traced pass does: the input scan and
        edge derivation each with a ``count()``, the tool co-occurrence
        graph and its triangles, a checkpoint save of the final distributed
        state, and the share of LSH candidates that n-gram Jaccard confirms."""
        import cassovary_spark.operators as O
        from cassovary_spark.checkpoint import CheckpointStore
        from cassovary_spark.functions import ngram_jaccard_pairs
        from cassovary_spark.sources import tool_cooccurrence_edges, turn_edges

        tracer.tags["phase"] = "turns_local"
        with tracer.region("sources.scan"):
            tr = self.spark.read.parquet(self.turns_path)
            out["turns"] = tr.count()
        with tracer.region("sources.turn_edges"):
            out["edges"] = turn_edges(tr).count()
        with tracer.region("sources.tool_cooccur"):
            co, _ = tool_cooccurrence_edges(out["transcripts"])
            co = co.persist()
            co.count()
        out["triangles"] = O.triangle_count(co)
        co.unpersist()
        tracer.tags.pop("phase")

        res = out["dist_pagerank"]
        store = CheckpointStore(os.path.join(self.work, "checkpoint"))
        with tracer.span("checkpoint.save"):
            store.save(res.iterations, res.ranks, {"error": res.error})
        shutil.rmtree(store.path, ignore_errors=True)
        cands = out["lsh_frame"]
        n = out["lsh"]["n"]
        confirmed = ngram_jaccard_pairs(self.docs, candidates=cands).count()
        out["lsh_confirmed_ratio"] = confirmed / n if n else 0.0

    def layer_metrics(self, tracer, out: dict) -> dict:
        m: dict = {}
        for p in ("turns_local", "turns_dist", "docs_kernels"):
            m[f"phase.{p}_s"] = tracer.total(f"phase.{p}")
        for name in ("scan", "turn_edges", "tool_cooccur"):
            m[f"sources.{name}_s"] = tracer.total(f"sources.{name}")
        m["sources.turns"] = out["turns"]
        m["sources.edges"] = out["edges"]

        local = [s for s in tracer.spans if s.get("phase") == "turns_local"]
        actions = [s for s in local if s["name"].endswith(".action")
                   and s["name"] != "operators.triangle_count.action"]
        m.update(_local_engine_metrics(tracer, local, actions))
        m.update(_op_layer_metrics(tracer, "turns_local"))
        m.update(_op_layer_metrics(tracer, "turns_dist", suffix="_dist"))

        dist = [s for s in tracer.spans if s.get("phase") == "turns_dist"]
        pr_call = next(s for s in dist if s["name"] == "operators.pagerank")
        hist = out["dist_pagerank"].history
        walls = [h["wall_sec"] for h in hist]
        m["superstep.count"] = len(hist)
        m["superstep.wall_s"] = median(walls)
        m["superstep.first_s"] = walls[0]
        m["superstep.prologue_s"] = tracer.duration(pr_call) - sum(walls)
        steps = [g for g in pr_call["jobs"]["children"] if g["label"] == "superstep"][1:]
        m["superstep.jobs"] = median([g["jobs"] for g in steps])
        m["superstep.stages"] = median([g["stages"] for g in steps])
        inside = [s for s in dist if s["start"] >= pr_call["start"]
                  and s["end"] <= pr_call["end"]]
        m["plans.partitions"] = next(
            s["partitions"] for s in inside if s["name"] == "plans.choose_partitions")
        m["checkpoint.roundtrip_s"] = median(
            [tracer.duration(s) for s in inside if s["name"] == "checkpoint.roundtrip"])
        m["checkpoint.save_s"] = tracer.total("checkpoint.save")

        for fn in DOC_FUNCTIONS:
            m[f"functions.{fn}_s"] = tracer.total(f"functions.{fn}")
        m["functions.lsh_candidates"] = out["lsh"]["n"]
        m["functions.lsh_confirmed_ratio"] = out["lsh_confirmed_ratio"]
        return m

    def close(self) -> None:
        for df in self._persisted:
            df.unpersist()


# ---------------------------------------------------------------- serve
class ServeWalks:
    """``CassovarySparkServer`` on loopback over a synthesized turn graph;
    one client in a closed loop sends ``/walk?start=<turn>&iters=30&topk=10``
    and waits for each reply before sending the next. A pass is one
    request."""

    name = "serve_walks"
    N_CONVS = 2000
    N_STARTS = 64
    TIMEOUT_S = 60
    WARM_UP_REQUESTS = 16

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.server = None
        self.served = 0
        # straight to loopback: no proxy from the environment
        self.http = urllib.request.build_opener(urllib.request.ProxyHandler({}))

    def setup_inputs(self) -> None:
        from cassovary_spark import CassovarySparkServer
        from cassovary_spark.sources import synth_transcripts, turn_edges

        self.close()
        edges = turn_edges(synth_transcripts(self.spark, n_convs=self.N_CONVS, seed=self.seed))
        self.server = CassovarySparkServer(self.spark, edges)
        self.port = self.server.start(0)
        convs = inputs.pick(np.arange(self.N_CONVS), self.N_STARTS, self.seed, 6)
        self.starts = [c << 16 for c in convs]

    def warm_up(self) -> None:
        # the first requests pay class loading and code generation; after
        # them latency keeps falling slowly (about a fifth over the next
        # ~150 requests) while the JIT compiles the planning and scheduling
        # paths, and the timed window's median spans that slope alike in
        # every run. A count, not a duration: compilation follows call counts
        for _ in range(self.WARM_UP_REQUESTS):
            self.run_pass(Tracer())

    def install_wrappers(self, tracer) -> None:
        # the handler looks ``walk`` up on the server per request
        tracer.wrap(self.server, "walk", "server.walk", counted=True)

    def traced_extras(self, out: dict, tracer: Tracer) -> None:
        """A traced request needs no untimed extra work."""

    def run_pass(self, tracer: Tracer) -> dict:
        start = self.starts[self.served % len(self.starts)]
        self.served += 1
        url = f"http://127.0.0.1:{self.port}/walk?start={start}&iters=30&topk=10"
        t0 = time.perf_counter()
        try:
            with self.http.open(url, timeout=self.TIMEOUT_S) as resp:
                status, body = resp.status, resp.read()
        except urllib.error.HTTPError as err:
            status, body = err.code, err.read()
        return {"start": start, "status": status, "body": body,
                "latency_s": time.perf_counter() - t0}

    def check(self, out: dict) -> dict[str, str | None]:
        if out["status"] != 200:
            return {"walk": f"HTTP {out['status']}: {out['body'][:200]!r}"}
        # a chain shorter than k pads the top-k with zero-score vertices;
        # every vertex that holds mass must be in the start's conversation
        top = [row for row in json.loads(out["body"])["top"] if row["score"] > 0]
        conv = out["start"] >> 16
        if not top:
            return {"walk": "no vertex with mass in the top-k"}
        if any(row["id"] >> 16 != conv for row in top):
            return {"walk": "a top-k vertex with mass is outside the start's conversation"}
        return {"walk": None}

    def layer_metrics(self, tracer, out: dict) -> dict:
        handler = tracer.named("server.walk")[0]
        spans = [s for s in tracer.spans if s["name"].startswith("local_engine.")]
        actions: list[dict] = []
        m = _local_engine_metrics(tracer, spans, actions)
        m.update(_op_layer_metrics(tracer, None))
        m["server.handler_ms"] = tracer.duration(handler) * 1e3
        m["server.http_ms"] = (out["latency_s"] - tracer.duration(handler)) * 1e3
        m["server.jobs_per_request"] = handler["jobs"]["jobs"]
        return m

    def close(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server = None


WORKLOADS = {w.name: w for w in (Batch, ServeWalks)}
