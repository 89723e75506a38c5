"""The benchmark workloads.

Each workload object has the same shape, called in this order:
  prepare()     generate every input from the seed (repeated for setup_s)
  warm()        unmeasured work after the JVM starts, if the workload
                measures warm
  run_unit()    one measured unit of work; returns a dict of timings,
                counts and check outcomes.  The first call also computes
                the expected outputs, outside the timed region and by other
                code than the measured calls.

A unit is one full analytics pass (cold_analytics) or one chained stream
of batches that starts from the base snapshot (update_stream).  Every call
into the engine goes through `probe.layer`, so a traced unit records its
spans and Spark job counts.
"""

from __future__ import annotations

import glob
import hashlib
import itertools
import os
import shutil
import time

import numpy as np
import pandas as pd

from pagerank_cuda_dynamic_spark.operators.components import (
    connected_components_joinagg,
    label_propagation_joinagg,
    label_propagation_np,
    triangle_count,
)
from pagerank_cuda_dynamic_spark.operators.graph import tidy_batch
from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import (
    pagerank_dynamic_frontier_prune_bsp,
    pagerank_static_bsp,
)
from pagerank_cuda_dynamic_spark.plans import (
    GraphSnapshot,
    build_vertex_dictionary,
    encode_edges,
)
from pagerank_cuda_dynamic_spark.sources import (
    derive_edges_from_transcripts,
    read_transcripts,
    synthesize_transcripts,
    write_transcripts,
)
from pagerank_cuda_dynamic_spark.sources.batches import (
    sample_deletions,
    sample_insertions,
)
from pagerank_cuda_dynamic_spark.sources.bench_graph import dense_transcript_graph
from pagerank_cuda_dynamic_spark.streaming.checkpoint import CheckpointManager
from perfbench.harness import dir_bytes, plan_depth
from tests.oracle import pagerank_numpy

EDGE_SCHEMA = "src long, dst long"
SHM = "/dev/shm"


def _collect_edges(df) -> tuple[np.ndarray, np.ndarray]:
    pdf = df.select("src", "dst").toPandas()
    return pdf["src"].to_numpy(np.int64), pdf["dst"].to_numpy(np.int64)


def digest(*arrays: np.ndarray) -> str:
    h = hashlib.sha256()
    for a in arrays:
        h.update(np.ascontiguousarray(a).tobytes())
    return h.hexdigest()


def _labels(pdf: pd.DataFrame, n: int, col: str) -> np.ndarray:
    out = np.full(n, -1, dtype=np.int64)
    out[pdf["v"].to_numpy()] = pdf[col].to_numpy()
    return out


def union_find_min_labels(n: int, src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Weakly connected components; each vertex labelled with the smallest
    vertex id in its component."""
    parent = np.arange(n, dtype=np.int64)

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(src.tolist(), dst.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    roots = np.array([find(v) for v in range(n)], dtype=np.int64)
    low = np.full(n, n, dtype=np.int64)
    np.minimum.at(low, roots, np.arange(n, dtype=np.int64))
    return low[roots]


def _trace_static(probe, pr, n_edges: int) -> None:
    """Split of a static BSP PageRank call (`PagerankResult` timings)."""
    loop_s = float(sum(pr.superstep_seconds))
    probe.add("plans.snapshot.pack_s", pr.pack_seconds)
    probe.add("operators.pagerank_bsp.static_setup_s", pr.setup_seconds)
    probe.add("operators.pagerank_bsp.static_loop_s", loop_s)
    probe.add("operators.pagerank_bsp.static_iterations", pr.iterations)
    probe.add("operators.pagerank_bsp.static_edges_per_s", n_edges * pr.iterations / loop_s)


class ColdAnalytics:
    """Transcripts on Parquet → edges → dictionary → snapshot → PageRank,
    connected components, label propagation and triangle count, then a
    durable commit of the ranks."""

    CONVERSATIONS = 2_000
    SETUP_REPEATS = 3

    def __init__(self, spark, probe, seed: int, workdir: str):
        self.spark = spark
        self.probe = probe
        self.seed = seed
        self.workdir = workdir
        self.path = os.path.join(workdir, "transcripts")
        self._commits = itertools.count()
        self.expected: dict | None = None

    def prepare(self) -> None:
        t = synthesize_transcripts(self.spark, n_conversations=self.CONVERSATIONS, seed=self.seed)
        write_transcripts(t, self.path)

    def _pass(self, keep: bool = False) -> dict:
        probe, spark = self.probe, self.spark
        held = []

        def boundary(df):
            # traced runs materialise lazy layer outputs so each layer's
            # span holds its own work
            if probe.trace:
                df = df.persist()
                df.count()
                held.append(df)
            return df

        t0 = time.perf_counter()
        with probe.layer("sources.transcripts.read"):
            tr = boundary(read_transcripts(spark, self.path))
        with probe.layer("sources.edges.derive"):
            ent = boundary(derive_edges_from_transcripts(tr))
        with probe.layer("plans.dictionary.build", jobs="plans.dictionary.jobs"):
            d = build_vertex_dictionary(ent)
            n = d.count()
            enc = boundary(encode_edges(ent, d))
        with probe.layer("plans.snapshot.build"):
            g = GraphSnapshot.build(enc, n=n)
        with probe.layer("operators.pagerank_bsp.static"):
            pr = pagerank_static_bsp(g)
        with probe.layer("operators.components.cc"):
            cc = connected_components_joinagg(g.edges, n).toPandas()
        with probe.layer("operators.components.lpa"):
            lpa = label_propagation_joinagg(g.edges, n).toPandas()
        with probe.layer("operators.components.triangles"):
            tri = int(triangle_count(g.edges).collect()[0][0])
        ckpt = os.path.join(self.workdir, f"ranks-{next(self._commits)}")
        with probe.layer("streaming.checkpoint.save"):
            CheckpointManager(spark, ckpt, catalog=None).save(
                pr.iterations, pr.ranks, None, pr.state.get("el", 0.0),
                float(sum(pr.superstep_seconds)), bounds=pr.state.get("bounds"),
            )
        wall = time.perf_counter() - t0
        for df in held:
            df.unpersist()
        out = {
            "wall": wall,
            "n": n,
            "ranks": pr.ranks,
            "cc": _labels(cc, n, "component"),
            "lpa": _labels(lpa, n, "label"),
            "triangles": tri,
            "pr": pr,
            "ckpt": ckpt,
        }
        if keep:
            out["graph"] = g
        else:
            g.unpersist()
        return out

    def warm(self) -> None:
        """No warm pass: the workload times the session's first pass, JIT
        and worker start-up included, as a one-shot analytics job pays it."""

    def _expect(self, g: GraphSnapshot, n: int) -> None:
        """Reference outputs on the first pass's collected snapshot edges:
        NumPy PageRank and union-find, the engine's broadcast-label LPA and
        wedge-join triangle count (the measured pass uses the join/agg LPA
        and the array-intersection triangle count)."""
        src, dst = _collect_edges(g.edges)
        ranks, _ = pagerank_numpy(n, src, dst)
        order = np.lexsort((dst, src))
        self.inputs_digest = digest(src[order], dst[order])
        self.n, self.n_edges = n, int(src.size)
        self.expected = {
            "n": n,
            "ranks": ranks,
            "cc": union_find_min_labels(n, src, dst),
            "lpa": label_propagation_np(g.edges, n),
            "triangles": int(triangle_count(g.edges, method="wedges").collect()[0][0]),
        }

    def run_unit(self) -> dict:
        r = self._pass(keep=self.expected is None)
        if self.expected is None:
            self._expect(r["graph"], r["n"])
            r["graph"].unpersist()
        probe, exp = self.probe, self.expected
        checks = [
            r["n"] == exp["n"]
            and np.allclose(r["ranks"], exp["ranks"], rtol=1e-6, atol=0.0),
            np.array_equal(r["cc"], exp["cc"]),
            np.array_equal(r["lpa"], exp["lpa"]),
            r["triangles"] == exp["triangles"],
        ]
        # the committed ranks, read back through the same manager
        loaded = CheckpointManager(self.spark, r["ckpt"], catalog=None).load()
        checks.append(loaded is not None and np.array_equal(loaded[1], r["ranks"]))
        if probe.trace:
            probe.add("streaming.checkpoint.save_mb", dir_bytes(r["ckpt"]) / 1e6)
            _trace_static(probe, r["pr"], self.n_edges)
        shutil.rmtree(r["ckpt"])
        return {
            "unit_s": r["wall"],
            "op_walls": [r["wall"]],
            "updates": self.n_edges,
            "attempted": len(checks),
            "failed": checks.count(False),
        }


class UpdateStream:
    """A base snapshot plus one lineage of chained, pre-generated mixed
    batches.  Each batch: tidy_batch → with_batch(repartition=False) →
    delta pack → DF-P, warm-started from the previous ranks."""

    CONVERSATIONS = 1_000
    # the first base build carries most of the JVM warm-up; a third build
    # would not fit the run budget
    SETUP_REPEATS = 2
    HOPS = 8
    BATCHES = 7
    BATCH_FRACTION = 1e-4

    def __init__(self, spark, probe, seed: int):
        self.spark = spark
        self.probe = probe
        self.seed = seed
        self.base: GraphSnapshot | None = None
        self.expected: dict | None = None

    def prepare(self) -> None:
        """Base graph built, packed and ranked; every batch frame drawn.
        Each batch holds exactly `k` deletions drawn from the base edges
        and `k` candidate insertions, so every seed offers the same number
        of updates before tidying."""
        spark, probe = self.spark, self.probe
        if self.base is not None:
            self.base.unpersist()
        edges, n = dense_transcript_graph(
            spark, self.CONVERSATIONS, adjacency_hops=self.HOPS, seed=self.seed
        )
        with probe.layer("plans.snapshot.build"):
            base = GraphSnapshot.build(edges, n=n)
        with probe.layer("operators.pagerank_bsp.static"):
            pr = pagerank_static_bsp(base)
        n_edges = base.edges.count()
        if probe.trace:
            _trace_static(probe, pr, n_edges)
        k = max(int(round(self.BATCH_FRACTION / 2 * n_edges)), 1)
        total = k * self.BATCHES
        # one draw per side for the whole stream, oversampled, then split
        dels = sample_deletions(base.edges, 1.5 * total / n_edges, seed=self.seed)
        ins = sample_insertions(spark, n, 2 * total, seed=self.seed)
        rng = np.random.default_rng(self.seed)
        dels, ins = (
            df.toPandas().sort_values(["src", "dst"]).reset_index(drop=True)
            for df in (dels, ins)
        )
        dels = dels.iloc[rng.permutation(len(dels))[:total]]
        ins = ins.iloc[rng.permutation(len(ins))[:total]]
        raw = [
            (dels.iloc[b * k:(b + 1) * k], ins.iloc[b * k:(b + 1) * k])
            for b in range(self.BATCHES)
        ]
        self.base, self.n, self.base_ranks, self.n_edges = base, n, pr.ranks, n_edges
        self.raw_batches = raw
        self.batches = [
            (spark.createDataFrame(d, EDGE_SCHEMA), spark.createDataFrame(i, EDGE_SCHEMA))
            for d, i in raw
        ]

    def _expect(self) -> None:
        """Replay the chain in NumPy: the tidied size of every batch and the
        PageRank of the final edge set."""
        src, dst = _collect_edges(self.base.edges)
        n = np.int64(self.n)
        keys = base_keys = np.unique(src * n + dst)
        sizes = []
        for dels, ins in self.raw_batches:
            dk = np.unique(dels["src"].to_numpy(np.int64) * n + dels["dst"].to_numpy(np.int64))
            ik = np.unique(ins["src"].to_numpy(np.int64) * n + ins["dst"].to_numpy(np.int64))
            dk = dk[np.isin(dk, keys)]
            ik = ik[~np.isin(ik, keys)]
            sizes.append((int(dk.size), int(ik.size)))
            keys = np.union1d(keys[~np.isin(keys, dk)], ik)
        ranks, _ = pagerank_numpy(self.n, keys // n, keys % n)
        self.expected = {"sizes": sizes, "ranks": ranks}
        self.inputs_digest = digest(
            base_keys, *(df.to_numpy(np.int64) for pair in self.raw_batches for df in pair)
        )

    def _chain(self, batches) -> dict:
        spark, probe = self.spark, self.probe
        g, ranks = self.base, self.base_ranks
        shm_before = set(glob.glob(os.path.join(SHM, "pr_bsp_*")))
        walls, sizes, depths, ok = [], [], [], []
        for b, (dels_in, ins_in) in enumerate(batches):
            probe.batch = b
            t0 = time.perf_counter()
            with probe.layer("update.batch"):
                with probe.layer("operators.graph.tidy_batch"):
                    d, i = tidy_batch(g.edges, dels_in, ins_in)
                    d_pdf, i_pdf = d.toPandas(), i.toPandas()
                    d = spark.createDataFrame(d_pdf, EDGE_SCHEMA)
                    i = spark.createDataFrame(i_pdf, EDGE_SCHEMA)
                with probe.layer("plans.snapshot.with_batch"):
                    g2 = g.with_batch(d, i, repartition=False)
                with probe.layer("plans.snapshot.delta_pack"):
                    g2.bsp_packed(block_width=0)
                with probe.layer("operators.pagerank_bsp.dfp"):
                    res = pagerank_dynamic_frontier_prune_bsp(g, g2, d, i, ranks)
            walls.append(time.perf_counter() - t0)
            sizes.append((len(d_pdf), len(i_pdf)))
            ok.append(bool(np.isfinite(res.ranks).all()) and abs(res.ranks.sum() - 1.0) < 1e-6)
            if probe.trace:
                self._trace_batch(res)
                depths.append(plan_depth(g2.edges))
            # the parent is released as the engine's own temporal driver does
            if g is not self.base:
                g.unpersist()
            g, ranks = g2, res.ranks
        probe.batch = None
        return {
            "graph": g, "ranks": ranks, "walls": walls, "sizes": sizes,
            "depths": depths, "ok": ok, "shm_before": shm_before,
        }

    def _trace_batch(self, res) -> None:
        probe = self.probe
        dfp_s = probe.samples["operators.pagerank_bsp.dfp_s"][-1]
        loop_s = float(sum(res.superstep_seconds))
        other = dfp_s - loop_s - res.setup_seconds - res.pack_seconds
        probe.add("operators.pagerank_bsp.dfp_setup_s", res.setup_seconds)
        probe.add("operators.pagerank_bsp.dfp_loop_s", loop_s)
        probe.add("operators.pagerank_bsp.dfp_other_s", other)
        probe.add("operators.pagerank_bsp.dfp_iterations", res.iterations)
        probe.add("operators.pagerank_bsp.dfp_affected", res.affected_initial)
        probe.add("operators.pagerank_bsp.dfp_loop_fraction", loop_s / dfp_s)

    def warm(self) -> None:
        """One batch from the base, discarded."""
        self._chain(self.batches[:1])["graph"].unpersist()

    def run_unit(self) -> dict:
        if self.expected is None:
            self._expect()
        probe, exp = self.probe, self.expected
        t0 = time.perf_counter()
        out = self._chain(self.batches)
        unit_s = time.perf_counter() - t0
        g, ranks = out["graph"], out["ranks"]
        checks = [
            ok and got == want
            for ok, got, want in zip(out["ok"], out["sizes"], exp["sizes"])
        ]
        # the stream's final ranks against the NumPy replay of the chain
        checks[-1] = checks[-1] and float(np.abs(ranks - exp["ranks"]).max()) <= 1e-6
        if probe.trace:
            probe.add("plans.snapshot.plan_depth", out["depths"][-1])
            new_dirs = set(glob.glob(os.path.join(SHM, "pr_bsp_*"))) - out["shm_before"]
            probe.add("plans.snapshot.spill_mb", sum(dir_bytes(p) for p in new_dirs) / 1e6)
            t1 = time.perf_counter()
            static = pagerank_static_bsp(g)
            probe.add("operators.pagerank_bsp.static_recompute_s", time.perf_counter() - t1)
            probe.add("operators.pagerank_bsp.dfp_l1_error", float(np.abs(ranks - static.ranks).sum()))
            checks[-1] = checks[-1] and float(np.abs(static.ranks - ranks).max()) <= 1e-6
        g.unpersist()
        return {
            "unit_s": unit_s,
            "op_walls": out["walls"],
            "updates": sum(a + b for a, b in out["sizes"]),
            "depths": out["depths"],
            "attempted": len(checks),
            "failed": checks.count(False),
        }
