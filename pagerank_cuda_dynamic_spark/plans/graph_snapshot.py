"""GraphSnapshot — an immutable dense-id graph version.

The reference snapshots graphs by copy-construction before each batch
(duplicate.hxx:86–101, main.cu:80).  DataFrames are immutable, so a snapshot
is just: the deduped self-looped edge DF (cached, hash-partitioned by dst —
the gather key of the pull update), the vertex count, and the out-degree
side table (transposeWithDegree's vertex value, transpose.hxx:79–100).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from pagerank_cuda_dynamic_spark.operators.graph import (
    DELTA_MAX_BATCH,
    apply_batch,
    collect_pairs,
    out_degrees,
)


@dataclass
class GraphSnapshot:
    """edges: (src:long, dst:long), deduped, self-loop on every vertex,
    repartitioned by dst and cached.  Dense id space [0, n)."""

    edges: DataFrame
    n: int
    degrees: DataFrame
    _outdeg_np: np.ndarray | None = field(default=None, repr=False)
    _packed: DataFrame | None = field(default=None, repr=False)
    _bsp_packed: tuple | None = field(default=None, repr=False)
    _bsp_spill: str | None = field(default=None, repr=False)
    # (parent, d_src, d_dst, i_src, i_dst) when this snapshot came from
    # with_batch with a batch of at most DELTA_MAX_BATCH rows a side — lets
    # bsp_packed() build an incremental delta pack
    _delta: tuple | None = field(default=None, repr=False)

    def bsp_packed(
        self,
        p: int | None = None,
        hub_factor: float = 4.0,
        block_width: int | None = None,
    ) -> tuple:
        """Cached (packed, bounds, n_stripes, hubs) stripe-CSR build for the
        BSP loop — built once per snapshot like the reference's device CSR.
        hub_factor / block_width apply only to the first (building) call;
        dynamic loops pass block_width=0 to skip the blocked-gather blobs
        they never read (extra lexsort + ~|E|·4B they'd otherwise pay in
        the auto-block regime).

        The pack SPILLS raw stripe records to a scratch dir shared with the
        executors (the same premise as the loop's memmap exchange): repeat
        loop invocations — warm starts, dynamic batches, repeated queries —
        load stripes off the spill instead of re-streaming ~|E|·12 B of blob
        rows through Arrow every run."""
        if self._bsp_packed is None and self._delta is not None:
            # batch-derived snapshot + packed parent → incremental pack:
            # O(|batch| + touched stripes), no |E| shuffle (delta_pack's
            # docstring has the full design)
            from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import (
                _scratch_dir,
                delta_pack,
            )

            parent, *batch = self._delta
            self._delta = None  # one shot: parent ref must not pin memory
            spill = _scratch_dir() + "_spill"
            got = delta_pack(self, parent, *batch, spill_dir=spill)
            if got is not None:
                self._bsp_spill = spill
                self._bsp_packed = got
        if self._bsp_packed is None:
            from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import (
                _scratch_dir,
                bsp_pack,
            )

            self._bsp_spill = _scratch_dir() + "_spill"
            self._bsp_packed = bsp_pack(
                self,
                p,
                hub_factor=hub_factor,
                block_width=block_width,
                spill_dir=self._bsp_spill,
            )
        return self._bsp_packed

    def packed(self) -> DataFrame:
        """Partition-packed CSR blocks: ONE row per dst-hash partition with
        the partition's (src, dst) arrays as binary blobs.

        This is the Spark analog of the reference's one-time host→device CSR
        build (pagerankCuda.hxx:757–805): the per-superstep job then reads a
        handful of blob rows instead of re-converting |E| rows to Arrow every
        iteration — the dominant cost at bench scale (~25× superstep
        speedup measured at 2.7M edges)."""
        if self._packed is None:
            import pandas as pd

            def pack(batches):
                srcs, dsts = [], []
                for pdf in batches:
                    srcs.append(pdf["src"].to_numpy(dtype=np.int64))
                    dsts.append(pdf["dst"].to_numpy(dtype=np.int64))
                if not srcs:
                    return
                src = np.concatenate(srcs)
                dst = np.concatenate(dsts)
                yield pd.DataFrame(
                    {
                        "n_local": [src.size],
                        "src_bin": [src.tobytes()],
                        "dst_bin": [dst.tobytes()],
                    }
                )

            self._packed = self.edges.mapInPandas(
                pack, "n_local long, src_bin binary, dst_bin binary"
            ).persist()
            self._packed.count()
        return self._packed

    @classmethod
    def build(
        cls,
        edges: DataFrame,
        n: int | None = None,
        self_loops: bool = True,
        partitions: int | None = None,
    ) -> "GraphSnapshot":
        """edges: dense-id (src,dst).  n: vertex-space size; derived from
        max id if absent (one pass).  self_loops: the reference's universal
        dead-end elimination (main.cu:169)."""
        spark = edges.sparkSession
        if n is None:
            row = edges.agg(
                F.greatest(F.max("src"), F.max("dst")).alias("m")
            ).collect()[0]
            n = int(row["m"]) + 1 if row["m"] is not None else 0
        e = edges.select("src", "dst")
        if self_loops:
            vertices = spark.range(n).select(F.col("id").alias("v"))
            loops = vertices.select(
                F.col("v").alias("src"), F.col("v").alias("dst")
            )
            e = e.unionByName(loops)
        p = partitions or spark.sparkContext.defaultParallelism
        # repartition FIRST, dedup second: rows with equal (src,dst) share a
        # dst, so they land in the same dst-hash partition and the distinct
        # aggregate runs in place with NO second exchange (HashPartitioning
        # on dst satisfies the agg's clustered-by-(src,dst) requirement) —
        # one |E| shuffle instead of two (measured 7.2 s -> 3.2 s at 20M
        # rows), with the exact same deduped result and the same dst-hash
        # layout the gather loops key on.
        e = e.repartition(p, "dst").distinct().persist()
        e.count()  # materialize
        deg = out_degrees(e).persist()
        return cls(edges=e, n=n, degrees=deg)

    def outdeg_array(self) -> np.ndarray:
        """Dense float64 out-degree array (divisor of the pull update).
        Collected once per snapshot — the CSR fast path assumes |V| fits the
        driver, exactly as the reference assumes it fits one GPU
        (pagerankCuda.hxx:798–805); the join/agg path has no such limit."""
        if self._outdeg_np is None:
            pdf = self.degrees.toPandas()
            arr = np.zeros(self.n, dtype=np.float64)
            arr[pdf["v"].to_numpy()] = pdf["outdeg"].to_numpy()
            self._outdeg_np = arr
        return self._outdeg_np

    def with_batch(
        self,
        deletions: DataFrame,
        insertions: DataFrame,
        n: int | None = None,
        repartition: bool = True,
    ) -> "GraphSnapshot":
        """New snapshot with the batch applied (batch.hxx:222–247).  Self
        loops are preserved by construction: deletions of (v,v) are the
        caller's responsibility to avoid (the reference never deletes the
        loops it injected).

        The batch is collected once (free for tidy_batch's driver-local
        frames; at most DELTA_MAX_BATCH rows a side, else the child keeps no
        batch) and kept on the child as arrays for the delta pack.

        repartition=False is the dynamic-regime fast path and assumes a
        TIDIED batch (tidy_batch's contract: dels ⊆ E, ins ∩ E = ∅, ins
        unique, n unchanged).  The child edge set is (E \\ D) ∪ I as a
        narrow plan — broadcast anti-join + append, no dedup shuffle, no
        repartition — coalesced back to the parent's partition count and
        eagerly localCheckpoint'ed, so lineage depth and partition count
        stay constant along a chain of batches (a persist() would keep the
        parent's plan under every child and slow each batch more than the
        last).  Correct rows either way; only the physical dst-clustering
        differs, and the BSP pack routes by its own key regardless.  The
        checkpoint lives only in executor block managers: a fast-path
        child's edges cannot be read after unpersist(), nor after the loss
        of an executor that held one of its blocks (no lineage to recompute
        from)."""
        new_n = n or self.n
        d = collect_pairs(deletions, DELTA_MAX_BATCH)
        i = collect_pairs(insertions, DELTA_MAX_BATCH) if d is not None else None
        batch = (*d, *i) if i is not None else None
        if repartition:
            new_edges = apply_batch(self.edges, deletions, insertions)
            child = GraphSnapshot.build(new_edges, n=new_n, self_loops=True)
        else:
            assert new_n == self.n, "fast-path with_batch cannot grow the id space"
            on = ["src", "dst"]
            # (v,v) deletions are no-ops on the default path (build
            # re-injects universal self-loops) — hold that here too
            gone = deletions.select(on).where(F.col("src") != F.col("dst"))
            e = (
                self.edges.join(F.broadcast(gone), on, "left_anti")
                .unionByName(insertions.select(on))
                .coalesce(self.edges.rdd.getNumPartitions())
                .localCheckpoint(eager=True)
            )
            child = GraphSnapshot(edges=e, n=new_n, degrees=out_degrees(e).persist())
        if batch is not None:
            child._delta = (self, *batch)
        return child

    def unpersist(self) -> None:
        import shutil

        plan = self.edges._jdf.logicalPlan()
        if plan.getClass().getSimpleName() == "LogicalRDD" and plan.rdd().isCheckpointed():
            # a fast-path child's localCheckpoint: its blocks live in the
            # plan's internal RDD, which DataFrame.unpersist misses
            plan.rdd().unpersist(False)
        self.edges.unpersist()
        self.degrees.unpersist()
        if self._packed is not None:
            self._packed.unpersist()
            self._packed = None
        if self._bsp_packed is not None:
            if self._bsp_packed[0] is not None:
                self._bsp_packed[0].unpersist()
            self._bsp_packed = None
        if self._bsp_spill is not None:
            shutil.rmtree(self._bsp_spill, ignore_errors=True)
            self._bsp_spill = None
