"""BSP dynamic variants (ND/DT/DF/DF-P) match static recompute (main.cu
invariant) and the per-superstep csr implementations."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pagerank_cuda_dynamic_spark.operators.graph import tidy_batch
from pagerank_cuda_dynamic_spark.operators.pagerank import (
    pagerank_dynamic_frontier,
    pagerank_dynamic_frontier_prune,
)
from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import (
    pagerank_dynamic_frontier_bsp,
    pagerank_dynamic_frontier_prune_bsp,
    pagerank_dynamic_traversal_bsp,
    pagerank_static_bsp,
)
from pagerank_cuda_dynamic_spark.plans.graph_snapshot import GraphSnapshot

from .conftest import edges_df


@pytest.fixture(scope="module")
def bsp_batch_setup(spark):
    rng = np.random.default_rng(29)
    n = 150
    src = rng.integers(0, n, 700)
    dst = rng.integers(0, n, 700)
    keep = src != dst
    g0 = GraphSnapshot.build(edges_df(spark, src[keep], dst[keep]), n=n)
    base = pagerank_static_bsp(g0)
    ins_pdf = pd.DataFrame(
        {"src": rng.integers(0, n, 40), "dst": rng.integers(0, n, 40)}
    )
    ins_pdf = ins_pdf[ins_pdf.src != ins_pdf.dst]
    pool = np.stack([src[keep], dst[keep]], axis=1)
    pick = rng.choice(len(pool), 25, replace=False)
    del_pdf = pd.DataFrame({"src": pool[pick, 0], "dst": pool[pick, 1]})
    dels, ins = tidy_batch(
        g0.edges, spark.createDataFrame(del_pdf), spark.createDataFrame(ins_pdf)
    )
    dels, ins = dels.persist(), ins.persist()
    g1 = g0.with_batch(dels, ins)
    oracle = pagerank_static_bsp(g1)
    return g0, g1, dels, ins, base.ranks, oracle.ranks


def test_bsp_dt_matches_static(bsp_batch_setup):
    g0, g1, dels, ins, q, want = bsp_batch_setup
    res = pagerank_dynamic_traversal_bsp(g0, g1, dels, ins, q)
    assert res.affected_initial > 0
    assert np.allclose(res.ranks, want, atol=1e-6)


def test_bsp_df_matches_static_and_csr(bsp_batch_setup):
    g0, g1, dels, ins, q, want = bsp_batch_setup
    res = pagerank_dynamic_frontier_bsp(g0, g1, dels, ins, q)
    assert np.allclose(res.ranks, want, atol=1e-6)
    csr = pagerank_dynamic_frontier(g0, g1, dels, ins, q)
    assert np.allclose(res.ranks, csr.ranks, atol=1e-9)
    assert res.iterations == csr.iterations


def test_bsp_dfp_matches_static_and_csr(bsp_batch_setup):
    g0, g1, dels, ins, q, want = bsp_batch_setup
    res = pagerank_dynamic_frontier_prune_bsp(g0, g1, dels, ins, q)
    assert np.allclose(res.ranks, want, atol=1e-6)
    csr = pagerank_dynamic_frontier_prune(g0, g1, dels, ins, q)
    assert np.allclose(res.ranks, csr.ranks, atol=1e-9)


def test_delta_pack_matches_full_pack(spark):
    """with_batch children of a packed parent take the incremental
    delta-pack path (packed DataFrame slot is None) and must produce
    IDENTICAL graph state to a from-scratch pack: same ranks, same
    out-degree array, same edge set on the fast (non-repartitioned)
    child.  Covers deletions + insertions, salted hubs (forced via a
    low hub_factor), and a chained second batch."""
    rng = np.random.default_rng(11)
    n = 600
    src = rng.integers(0, n, 6000)
    dst = (rng.zipf(1.3, 6000) % n).astype(np.int64)
    keep = src != dst
    g0 = GraphSnapshot.build(edges_df(spark, src[keep], dst[keep]), n=n)
    _, _, n_stripes, hubs = g0.bsp_packed(hub_factor=0.3)
    assert hubs.size > 0, "test graph must exercise the salted-hub route"
    base = pagerank_static_bsp(g0)
    ex = g0.edges.limit(120).toPandas()
    del_pdf = ex[ex.src != ex.dst].head(40)
    hub_dst = np.resize(hubs, 20)  # target hubs so hub inserts are covered
    ins_pdf = pd.DataFrame(
        {
            "src": rng.integers(0, n, 60),
            "dst": np.concatenate([hub_dst, rng.integers(0, n, 40)]),
        }
    )
    dels, ins = tidy_batch(
        g0.edges, spark.createDataFrame(del_pdf), spark.createDataFrame(ins_pdf)
    )
    dels, ins = dels.persist(), ins.persist()
    g1 = g0.with_batch(dels, ins, repartition=False)
    g1c = g0.with_batch(dels, ins)
    g1c._delta = None  # control: force the full from-scratch pack
    r1 = pagerank_static_bsp(g1)
    r1c = pagerank_static_bsp(g1c)
    assert g1._bsp_packed[0] is None, "delta path not taken"
    assert g1c._bsp_packed[0] is not None
    assert np.allclose(r1.ranks, r1c.ranks, atol=1e-12)
    assert np.array_equal(g1._outdeg_np, g1c.outdeg_array())
    a = g1.edges.toPandas().sort_values(["src", "dst"]).reset_index(drop=True)
    b = g1c.edges.toPandas().sort_values(["src", "dst"]).reset_index(drop=True)
    assert a.equals(b)
    # chained batch: the delta child is itself a valid delta parent
    ins2 = spark.createDataFrame(
        pd.DataFrame({"src": rng.integers(0, n, 15), "dst": rng.integers(0, n, 15)})
    )
    empty = spark.createDataFrame(
        pd.DataFrame({"src": [], "dst": []}).astype("int64"),
        schema="src long, dst long",
    )
    dels2, ins2 = tidy_batch(g1.edges, empty, ins2)
    dels2, ins2 = dels2.persist(), ins2.persist()
    g2 = g1.with_batch(dels2, ins2, repartition=False)
    g2c = g1c.with_batch(dels2, ins2)
    g2c._delta = None
    r2 = pagerank_static_bsp(g2)
    r2c = pagerank_static_bsp(g2c)
    assert g2._bsp_packed[0] is None
    assert np.allclose(r2.ranks, r2c.ranks, atol=1e-12)
    # DF-P on the delta child matches its own static recompute
    dfp = pagerank_dynamic_frontier_prune_bsp(g0, g1, dels, ins, base.ranks)
    assert np.allclose(dfp.ranks, r1.ranks, atol=1e-6)
    for x in (g0, g1, g1c, g2, g2c):
        x.unpersist()


def test_mover_bitmap_path_bit_equals_idlist_path(bsp_batch_setup, monkeypatch):
    """The two mover-exchange encodings (id-list walk vs bitmap gather —
    chosen per consumer stripe by size in auto mode) must be exact
    equivalents: same eidx sets in the same src-sorted order, so the
    frontier marks, iteration counts and every float op are identical.
    Pinned by forcing each path via SPARK_GRAFT_MOVER_BM and asserting
    bit-equal ranks on DF and DF-P (the expand modes that exchange
    movers)."""
    g0, g1, dels, ins, q, _ = bsp_batch_setup
    runs = {}
    for force in ("0", "1"):
        monkeypatch.setenv("SPARK_GRAFT_MOVER_BM", force)
        runs[force] = (
            pagerank_dynamic_frontier_bsp(g0, g1, dels, ins, q),
            pagerank_dynamic_frontier_prune_bsp(g0, g1, dels, ins, q),
        )
    monkeypatch.delenv("SPARK_GRAFT_MOVER_BM", raising=False)
    for i in range(2):
        a, b = runs["0"][i], runs["1"][i]
        assert a.iterations == b.iterations
        assert np.array_equal(a.ranks, b.ranks)  # bit-equal, not allclose


def _hub_graph(spark, seed):
    """Zipf-skewed 600-vertex graph packed with a low hub_factor, so the
    batch below exercises the salted-hub route."""
    rng = np.random.default_rng(seed)
    n = 600
    src = rng.integers(0, n, 6000)
    dst = (rng.zipf(1.3, 6000) % n).astype(np.int64)
    keep = src != dst
    g0 = GraphSnapshot.build(edges_df(spark, src[keep], dst[keep]), n=n)
    _, _, _, hubs = g0.bsp_packed(hub_factor=0.3)
    assert hubs.size > 0, "test graph must exercise the salted-hub route"
    return rng, n, g0, hubs


def test_seeded_frontier_marks_match_frontier_marks(spark):
    """DF / DF-P seed their marking inside the BSP loop from the batch
    (vaff0 = srcs(D∪I) ∪ dst(D), movers0 = srcs(D∪I)).  For a tidied batch
    that must equal a loop handed _frontier_marks' N_old(D_src) ∪
    N_new(I_src) directly: the same affected_initial (the marked set after
    superstep 0's expansion, not the seed) and bit-equal ranks, on the
    fast-path child and the default-path child alike.  The batch holds
    deletions, insertions aimed at salted hubs, and a src with both a
    deletion and an insertion."""
    from pagerank_cuda_dynamic_spark.operators.pagerank import (
        PagerankOptions,
        _adjust_warm_start,
        _frontier_marks,
    )
    from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import _bsp_loop

    rng, n, g0, hubs = _hub_graph(spark, 5)
    q = pagerank_static_bsp(g0).ranks
    ex = g0.edges.where("src != dst").limit(200).toPandas()
    del_pdf = ex.iloc[::5].head(30)
    both = int(del_pdf.src.iloc[0])
    ins_pdf = pd.DataFrame(
        {
            "src": np.concatenate([[both] * 5, rng.integers(0, n, 35)]),
            "dst": np.concatenate([rng.integers(0, n, 5), np.resize(hubs, 35)]),
        }
    )
    dels, ins = tidy_batch(
        g0.edges, spark.createDataFrame(del_pdf), spark.createDataFrame(ins_pdf)
    )
    d_pdf, i_pdf = dels.toPandas(), ins.toPandas()
    assert both in set(d_pdf.src) & set(i_pdf.src)
    assert np.isin(i_pdf.dst, hubs).any() and len(d_pdf) > 10
    opts = PagerankOptions()
    for g1 in (
        g0.with_batch(dels, ins, repartition=False),
        g0.with_batch(dels, ins),
    ):
        g1.bsp_packed()
        vaff = _frontier_marks(g0, g1, dels, ins)
        for run, kw in (
            (pagerank_dynamic_frontier_bsp, {}),
            (
                pagerank_dynamic_frontier_prune_bsp,
                dict(corrected=True, prune=True),
            ),
        ):
            seeded = run(g0, g1, dels, ins, q)
            marked = _bsp_loop(
                g1, opts, q=_adjust_warm_start(q, n), vaff0=vaff, expand=True, **kw
            )
            assert seeded.affected_initial == marked.affected_initial
            assert seeded.affected_initial > len(d_pdf) + len(i_pdf)
            assert seeded.iterations == marked.iterations
            assert np.array_equal(seeded.ranks, marked.ranks)  # bit-equal
        g1.unpersist()
    g0.unpersist()


def test_chained_fast_path_batches_stay_flat(spark):
    """Eight chained with_batch(repartition=False) → delta pack → DF-P
    batches, each parent unpersisted: the child's lineage (analyzed-plan
    lines) and partition count must not grow, checkpointed edge blocks
    must be released with their snapshot, and the final ranks must match
    a NumPy PageRank of the replayed edge set."""
    from tests.oracle import pagerank_numpy

    rng, n, g0, _ = _hub_graph(spark, 17)
    ranks = pagerank_static_bsp(g0).ranks
    base = g0.edges.toPandas()
    keys = set(zip(base.src.tolist(), base.dst.tolist()))
    parts = g0.edges.rdd.getNumPartitions()
    jsc = spark.sparkContext._jsc
    g, depth, persisted = g0, None, None

    def plan_lines(df):
        return str(df._jdf.queryExecution().analyzed().toString()).count("\n") + 1

    for b in range(8):
        cur = g.edges.where("src != dst").toPandas()
        del_pdf = cur.sample(6, random_state=b)
        ins_pdf = pd.DataFrame(
            {"src": rng.integers(0, n, 6), "dst": rng.integers(0, n, 6)}
        )
        dels, ins = tidy_batch(
            g.edges, spark.createDataFrame(del_pdf), spark.createDataFrame(ins_pdf)
        )
        g2 = g.with_batch(dels, ins, repartition=False)
        g2.bsp_packed(block_width=0)
        assert g2._bsp_packed[0] is None, "delta path not taken"
        ranks = pagerank_dynamic_frontier_prune_bsp(g, g2, dels, ins, ranks).ranks
        if g is not g0:
            g.unpersist()
        g = g2
        for r in dels.collect():
            keys.discard((r.src, r.dst))
        keys.update((r.src, r.dst) for r in ins.collect())
        lines, n_parts = plan_lines(g.edges), g.edges.rdd.getNumPartitions()
        n_rdds = jsc.getPersistentRDDs().size()
        depth, persisted = depth or lines, persisted or n_rdds
        assert lines <= depth, f"lineage grew at batch {b}"
        assert n_parts <= parts, f"partitions grew at batch {b}"
        assert n_rdds <= persisted, f"persistent RDDs leaked at batch {b}"
    src, dst = (np.array(c, dtype=np.int64) for c in zip(*sorted(keys)))
    want, _ = pagerank_numpy(n, src, dst)
    assert np.allclose(ranks, want, atol=1e-6)
    g.unpersist()
    g0.unpersist()


def test_fast_path_child_matches_default_path_with_self_loop_deletions(
    spark, monkeypatch
):
    """The checkpointed fast-path child holds the default path's edge set,
    with (v,v) deletions kept as no-ops (the default path re-injects every
    self-loop) — also for a batch above the collect cap, which is applied
    from the frames and leaves the child without a delta pack."""
    from pagerank_cuda_dynamic_spark.plans import graph_snapshot

    rng = np.random.default_rng(23)
    n = 80
    src, dst = rng.integers(0, n, 400), rng.integers(0, n, 400)
    g0 = GraphSnapshot.build(edges_df(spark, src, dst), n=n)
    ex = g0.edges.toPandas()
    sel = ex.iloc[::7].head(30)
    assert (sel.src == sel.dst).any(), "batch must hold a (v,v) deletion"
    dels = spark.createDataFrame(sel)
    ins = spark.createDataFrame(pd.DataFrame({"src": [1, 2], "dst": [79, 78]}))
    dels, ins = tidy_batch(g0.edges, dels, ins)
    g1c = g0.with_batch(dels, ins)
    g1 = g0.with_batch(dels, ins, repartition=False)
    monkeypatch.setattr(graph_snapshot, "DELTA_MAX_BATCH", 1)
    g1b = g0.with_batch(dels, ins, repartition=False)
    assert g1._delta is not None and g1b._delta is None
    want = g1c.edges.toPandas().sort_values(["src", "dst"]).reset_index(drop=True)
    for g in (g1, g1b):
        got = g.edges.toPandas().sort_values(["src", "dst"]).reset_index(drop=True)
        assert got.equals(want)
    for g in (g0, g1, g1b, g1c):
        g.unpersist()
