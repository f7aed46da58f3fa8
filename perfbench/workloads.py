"""The benchmark's two workloads.

Each is a closed loop with one client: one pass calls each operator once,
in sequence, followed by the action a user needs to see its result (as
in the frozen ``bench.py``). ``prepare`` writes the seeded inputs before
the session starts; ``run_pass`` is the timed region; ``check`` compares
a pass's outputs with references computed once per run (NumPy ones from
``checks.py``, or the engine's driver-local path) right after the pass.

Louvain on the Spark loop runs with ``threshold=0.2``: on every
transcript graph this generator makes, that converges in exactly 2 levels
and 3 optimisation rounds (2 + 1), so the number of Spark supersteps does
not change with the seed. The interrupted call runs level 0 in the
default mode, whose rounds this early are the DataFrame plan; the resumed
call runs level 1 in ``mode="arrow"``, the mapInPandas kernel, so both
round engines are measured.
"""

from __future__ import annotations

import functools
import os
import time

import numpy as np
import pyarrow.parquet as pq

import checks
import gen

SPARSE_THRESHOLD = 0.2
PR_ITERS = 2  # synth_supersteps: PageRank is interrupted after half of these


class Pass:
    """Timings and outputs of one pass, plus the attempted/failed tally."""

    def __init__(self, tracer, log):
        self.tracer = tracer
        self.log = log
        self.t: dict[str, float] = {}
        self.out: dict = {}
        self.failed: set[str] = set()
        self.ops: list[str] = []
        self.info: dict = {}
        self.louvain: list = []  # every LouvainResult of the pass, in call order

    def rounds(self, engine=None) -> int:
        """Optimisation rounds over the pass's Louvain calls."""
        return sum(_rounds(res, engine) for res in self.louvain)

    def op(self, key: str, span: str, fn, **attrs):
        """Run one operator call inside its span, timing it under ``key``;
        an exception marks the call failed and the pass goes on."""
        self.ops.append(key)
        t0 = time.perf_counter()
        try:
            with self.tracer.span(span, **attrs):
                out = fn()
        except Exception as exc:  # a failing operator is counted, not fatal
            self.log(f"{key}: raised {type(exc).__name__}: {exc}")
            self.failed.add(key)
            return None
        self.t[key] = self.t.get(key, 0.0) + time.perf_counter() - t0
        return out

    def expect(self, key: str, ok: bool, what: str) -> None:
        if not ok:
            self.log(f"{key}: check failed: {what}")
            self.failed.add(key)


def _rounds(res, engine=None) -> int:
    """Optimisation rounds of one Louvain result; ``engine`` "local" or
    "spark" counts one engine only."""
    return sum(
        1 for m in res.metrics
        if m.get("round", -1) >= 0
        and (engine is None or (m.get("engine") == "local") == (engine == "local"))
    )


def _labels(df, key, value, n):
    """Dense label array from a (key, value) DataFrame; unset entries get
    fresh labels so they never join a community."""
    return _by_id(df, key, value, np.arange(n, n + n, dtype=np.int64))


def _by_id(df, key, value, out):
    pdf = df.select(key, value).toPandas()
    out[pdf[key].to_numpy()] = pdf[value].to_numpy()
    return out


def _ranks(df, n):
    return _by_id(df, "id", "rank", np.full(n, np.nan))


def _edge_array(g):
    e = g.edges.filter("src < dst").select("src", "dst").toPandas()
    arr = e.to_numpy(dtype=np.int64)
    return arr[np.lexsort((arr[:, 1], arr[:, 0]))]


def _materialise(g, npart):
    g.edges = g.edges.repartition(npart, "src").localCheckpoint(eager=True)
    g.vertices = g.vertices.localCheckpoint(eager=True)
    return g


def _check_graph(p, g, n_ref, e_ref):
    p.expect("graph_build", g.n_nodes == n_ref, f"n_nodes {g.n_nodes} != {n_ref}")
    got = _edge_array(g)
    p.expect("graph_build", np.array_equal(got, e_ref), f"edge set differs ({len(got)} vs {len(e_ref)})")
    p.expect("graph_build", g.m == float(len(e_ref)), f"m {g.m} != {len(e_ref)}")


def _check_louvain(p, key, res, edges, n):
    lab = _labels(res.labels, "orig_id", "community", n)
    q = checks.modularity(edges, n, lab)
    p.expect(key, q == res.modularity, f"Q {res.modularity!r} != recomputed {q!r}")


# --------------------------------------------------------------------------
# local_tails: every iterative operator under the 5M-edge local cutoff
# --------------------------------------------------------------------------

class LocalTails:
    name = "local_tails"
    n_events, n_users, n_docs, n_vectors, dim, clusters = 20_000, 320, 1_000, 1_000, 64, 16

    def prepare(self, seed, data):
        os.makedirs(data, exist_ok=True)
        self.data = data
        self.ann_first = None
        ev = gen.events(seed, self.n_events, self.n_users)
        docs, self.planted = gen.documents(seed, self.n_docs)
        emb = gen.embeddings(seed, self.n_vectors, self.dim, self.clusters)
        for name, table in (("events", ev), ("documents", docs), ("embeddings", emb)):
            gen.write(table, os.path.join(data, f"{name}.parquet"))
        self.n_ref, self.e_ref = checks.events_edges(os.path.join(data, "events.parquet"))
        return {"events": ev.num_rows, "events_hash": gen.row_hash(ev),
                "documents_hash": gen.row_hash(docs), "embeddings_hash": gen.row_hash(emb),
                "directed_edges": 2 * len(self.e_ref)}

    def run_pass(self, spark, p, work, npart):
        from pyspark.sql import functions as F

        from louvain_fast_move_cuda_spark.operators.components import connected_components
        from louvain_fast_move_cuda_spark.operators.dedup import (
            minhash_lsh_candidates, minhash_signatures, shingles,
        )
        from louvain_fast_move_cuda_spark.operators.labelprop import label_propagation
        from louvain_fast_move_cuda_spark.operators.louvain import louvain
        from louvain_fast_move_cuda_spark.operators.pagerank import pagerank
        from louvain_fast_move_cuda_spark.operators.similarity import ivf_topk
        from louvain_fast_move_cuda_spark.operators.triangles import triangle_count
        from louvain_fast_move_cuda_spark.sources.transcripts import transcript_graph

        g = p.op("graph_build", "sources",
                 lambda: _materialise(transcript_graph(spark, self.data)[2], npart))
        if g is None:
            return
        p.out["graph"] = g

        def run_louvain():
            res = louvain(g)
            p.tracer.clear_description()
            res.labels.count()
            p.louvain.append(res)
            return res
        p.out["louvain"] = p.op("louvain", "louvain", run_louvain)

        def run_pr():
            df = pagerank(g, max_iter=20, tol=1e-12)
            df.agg(F.sum("rank")).collect()
            return df
        p.out["pagerank"] = p.op("pagerank", "pagerank", run_pr)

        def run_cc():
            df = connected_components(g)
            df.agg(F.countDistinct("component")).collect()
            return df
        p.out["cc"] = p.op("cc", "components", run_cc)

        def run_lpa():
            df = label_propagation(g, max_iter=5)
            df.agg(F.countDistinct("label")).collect()
            return df
        p.out["lpa"] = p.op("lpa", "labelprop", run_lpa)
        p.out["triangles"] = p.op("triangles", "triangles", lambda: triangle_count(g))

        def run_minhash():
            docs = spark.read.parquet(os.path.join(self.data, "documents.parquet"))
            sigs = minhash_signatures(shingles(docs, k=5), num_hashes=32)
            return minhash_lsh_candidates(sigs, bands=8, rows_per_band=4).collect()
        p.out["minhash"] = p.op("minhash", "dedup", run_minhash)

        def run_ann():
            emb = spark.read.parquet(os.path.join(self.data, "embeddings.parquet")).select(
                "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding"))
            queries = emb.filter(F.col("vec_id") < 50)
            return ivf_topk(emb, queries, k=10, n_centroids=16, nprobe=8).collect()
        p.out["ann"] = p.op("ann", "similarity", run_ann)

    @functools.cached_property
    def ref(self) -> dict:
        """NumPy references, computed once per run and shared by its passes."""
        n, e = self.n_ref, self.e_ref
        t = pq.read_table(os.path.join(self.data, "embeddings.parquet"))
        vec = np.stack(t.column("embedding").to_numpy(zero_copy_only=False))
        return {
            "pagerank": checks.pagerank(e, n, 20, 1e-12),
            "cc": checks.components(e, n),
            "lpa": checks.label_propagation(e, n, 5),
            "triangles": checks.triangles(e, n),
            "ann": checks.cosine_topk(vec, np.arange(50), 10),
        }

    def check(self, p):
        g = p.out.get("graph")
        if g is None:
            return
        n, e, ref = self.n_ref, self.e_ref, self.ref
        _check_graph(p, g, n, e)
        if p.out.get("louvain") is not None:
            _check_louvain(p, "louvain", p.out["louvain"], e, n)
        if p.out.get("pagerank") is not None:
            rank = _ranks(p.out["pagerank"], n)
            p.expect("pagerank", np.allclose(rank, ref["pagerank"], rtol=0, atol=1e-12), "ranks differ by > 1e-12")
        if p.out.get("cc") is not None:
            cc = _labels(p.out["cc"], "id", "component", n)
            p.expect("cc", np.array_equal(cc, ref["cc"]), "components differ")
        if p.out.get("lpa") is not None:
            lpa = _labels(p.out["lpa"], "id", "label", n)
            p.expect("lpa", np.array_equal(lpa, ref["lpa"]), "labels differ")
        if p.out.get("triangles") is not None:
            p.expect("triangles", p.out["triangles"] == ref["triangles"], f"{p.out['triangles']} != {ref['triangles']}")
        if p.out.get("minhash") is not None:
            pairs = {(r["id_a"], r["id_b"]) for r in p.out["minhash"]}
            p.expect("minhash", all(a < b for a, b in pairs), "a pair is not ordered")
            missed = [pr for pr in self.planted if tuple(sorted(pr)) not in pairs]
            p.expect("minhash", not missed, f"{len(missed)} planted duplicates missed")
        if p.out.get("ann") is not None:
            got = {(r["query_id"], r["neighbor_id"]) for r in p.out["ann"]}
            if self.ann_first is None:
                self.ann_first = got
            p.expect("ann", got == self.ann_first, "a repeated query differs from the run's first")
            recall = len(got & ref["ann"]) / len(ref["ann"])
            p.info["ann_recall_at_10"] = recall
            p.expect("ann", recall == 1.0, f"IVF recall@10 {recall} on clustered vectors")


# --------------------------------------------------------------------------
# synth_supersteps: every superstep a Spark job; durable ones interrupted
# --------------------------------------------------------------------------

class SynthSupersteps:
    """Seeded synthetic transcripts through ``derive_edges_from_transcripts``
    and ``build_graph``. Louvain and PageRank run with durable per-superstep
    checkpoints (which force the distributed loop), stop early at a lower
    bound, and resume from the checkpoint directory."""

    name = "synth_supersteps"
    n_convs = 3_000

    def prepare(self, seed, data):
        os.makedirs(data, exist_ok=True)
        table = gen.transcripts(seed, self.n_convs)
        self.path = gen.write(table, os.path.join(data, "transcripts.parquet"))
        self.ref = None
        self.n_ref, self.e_ref = checks.transcript_edges(self.path)
        return {"turns": table.num_rows, "transcripts_hash": gen.row_hash(table),
                "directed_edges": 2 * len(self.e_ref)}

    def run_pass(self, spark, p, work, npart):
        from pyspark.sql import functions as F

        from louvain_fast_move_cuda_spark.operators.louvain import louvain
        from louvain_fast_move_cuda_spark.operators.pagerank import pagerank
        from louvain_fast_move_cuda_spark.plans.checkpoint import (
            SuperstepCheckpointer, VertexIterationCheckpointer,
        )
        from louvain_fast_move_cuda_spark.sources.edges import (
            build_graph, derive_edges_from_transcripts,
        )

        g = p.op("graph_build", "sources", lambda: _materialise(
            build_graph(derive_edges_from_transcripts(spark.read.parquet(self.path)), relabel=False),
            npart))
        if g is None:
            return
        p.out["graph"] = g
        root = os.path.join(work, "checkpoints")
        p.out["checkpoint_root"] = root
        ck_l, ck_pr = os.path.join(root, "louvain"), os.path.join(root, "pagerank")

        def run_louvain(**kw):
            res = louvain(g, threshold=SPARSE_THRESHOLD, checkpointer=SuperstepCheckpointer(ck_l), **kw)
            p.tracer.clear_description()
            res.labels.count()
            p.louvain.append(res)
            return res

        def run_pr(iters):
            df = pagerank(g, max_iter=iters, tol=0.0, checkpointer=VertexIterationCheckpointer(ck_pr, "pagerank"))
            df.agg(F.sum("rank")).collect()
            return df

        # interrupted: Louvain stops after its first level, PageRank after
        # half its iterations; the second call of each resumes (Louvain on
        # the Arrow kernel)
        p.op("louvain", "louvain", lambda: run_louvain(max_levels=1))
        p.out["louvain"] = self._resumed(p, "louvain", "louvain", lambda: run_louvain(mode="arrow"))
        p.op("pagerank", "pagerank", lambda: run_pr(PR_ITERS // 2))
        p.out["pagerank"] = self._resumed(p, "pagerank", "pagerank", lambda: run_pr(PR_ITERS))

    @staticmethod
    def _resumed(p, key, span, fn):
        t0 = time.perf_counter()
        out = p.op(key, span, fn, resumed=True)
        p.t["resume"] = p.t.get("resume", 0.0) + time.perf_counter() - t0
        return out

    def _ref(self, g) -> dict:
        """The uninterrupted calls through the driver-local tails, which the
        engine keeps bit-identical to the Spark loop; computed on the first
        checked pass's graph (every pass builds the same one) and shared."""
        if self.ref is None:
            from louvain_fast_move_cuda_spark.operators.louvain import louvain
            from louvain_fast_move_cuda_spark.operators.pagerank import pagerank

            n = self.n_ref
            lv = louvain(g, threshold=SPARSE_THRESHOLD)
            self.ref = {
                "louvain_q": lv.modularity,
                "louvain_labels": _labels(lv.labels, "orig_id", "community", n),
                "louvain_rounds": _rounds(lv),
                "pagerank": _ranks(pagerank(g, max_iter=PR_ITERS, tol=0.0), n),
            }
        return self.ref

    def check(self, p):
        g = p.out.get("graph")
        if g is None:
            return
        n, e = self.n_ref, self.e_ref
        _check_graph(p, g, n, e)
        ref = self._ref(g)
        if p.out.get("louvain") is not None:
            res = p.out["louvain"]
            _check_louvain(p, "louvain", res, e, n)
            p.expect("louvain", res.modularity == ref["louvain_q"],
                     f"Q {res.modularity!r} != local {ref['louvain_q']!r}")
            p.expect("louvain", np.array_equal(_labels(res.labels, "orig_id", "community", n),
                                               ref["louvain_labels"]), "labels differ from the local tail")
            p.expect("louvain", _rounds(res) < ref["louvain_rounds"], "resume replayed every round")
        if p.out.get("pagerank") is not None:
            got = _ranks(p.out["pagerank"], n)
            p.expect("pagerank", np.allclose(got, ref["pagerank"], rtol=0, atol=1e-12),
                     "resumed ranks differ from an uninterrupted run by > 1e-12")


WORKLOADS = {w.name: w for w in (LocalTails, SynthSupersteps)}
