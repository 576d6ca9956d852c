"""Spatial eps-connectivity clustering: constructed-case semantics,
brute-force parity, and the plan-shape guarantee (grid equi-join, not
a nested-loop)."""

import hashlib

import pytest
from pyspark.sql import functions as F

from asag_spark.operators.cluster import eps_pairs, spatial_clusters


def _pts(spark, rows):
    return spark.createDataFrame(rows, "point_id long, lon double, lat double")


def test_eps_pairs_boundaries_and_cells(spark):
    """Pairs across a cell boundary are found (the 3x3 replication),
    distance exactly eps is INCLUDED, just-over is not."""
    rows = [
        (1, 0.0009, 0.0),   # cell 0; 2 is in cell 1 at distance 0.0002
        (2, 0.0011, 0.0),
        (3, 0.0011, 0.001),  # exactly 0.001 above 2 → included at eps=0.001
        (4, 0.0011, 0.00201),  # just over eps from 3
        (5, 5.0, 5.0),      # far singleton
    ]
    got = {(r["id_a"], r["id_b"])
           for r in eps_pairs(_pts(spark, rows), eps=0.001).collect()}
    assert got == {(1, 2), (2, 3)}


def test_eps_pairs_rejects_bad_eps(spark):
    with pytest.raises(ValueError):
        eps_pairs(_pts(spark, []), eps=0.0)


def _brute_clusters(rows, eps):
    parent = {i: i for i, _, _ in rows}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, xi, yi in rows:
        for j, xj, yj in rows:
            if i < j and (xi - xj) ** 2 + (yi - yj) ** 2 <= eps * eps:
                ra, rb = find(i), find(j)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    # min-id root per member, then sizes
    lab = {i: find(i) for i, _, _ in rows}
    sizes = {}
    for r in lab.values():
        sizes[r] = sizes.get(r, 0) + 1
    return {(i, lab[i], sizes[lab[i]]) for i in lab}


def test_spatial_clusters_matches_brute_force(spark):
    """Pseudo-random points (md5-derived, deterministic) vs a driver-side
    union-find over the all-pairs predicate."""
    rows = []
    for i in range(120):
        hx = int(hashlib.md5(f"x{i}".encode()).hexdigest()[:8], 16) / 16**8
        hy = int(hashlib.md5(f"y{i}".encode()).hexdigest()[:8], 16) / 16**8
        rows.append((i, hx * 0.02, hy * 0.02))
    eps = 0.0015
    got = {(r["point_id"], r["cluster_id"], r["cluster_size"])
           for r in spatial_clusters(_pts(spark, rows), eps=eps).collect()}
    assert got == _brute_clusters(rows, eps)
    # sanity: the instance is non-trivial (some multi-point cluster AND
    # some singleton), so the parity above actually exercised both paths
    sizes = {s for _, _, s in got}
    assert 1 in sizes and max(sizes) >= 2


def test_spatial_clusters_singletons_label_themselves(spark):
    rows = [(10, 0.0, 0.0), (20, 1.0, 1.0), (30, 1.0005, 1.0)]
    got = {r["point_id"]: (r["cluster_id"], r["cluster_size"])
           for r in spatial_clusters(_pts(spark, rows), eps=0.001).collect()}
    assert got == {10: (10, 1), 20: (20, 2), 30: (20, 2)}


def test_eps_pairs_plan_is_equi_join(spark):
    """The grid rewrite must compile to a shuffled equi-join on the
    cell key — a nested-loop/cartesian means the bucketing failed."""
    rows = [(i, float(i) * 0.01, 0.0) for i in range(50)]
    plan = eps_pairs(_pts(spark, rows), eps=0.005)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_partitioned_matches_iterative_and_brute(spark):
    """spatial_clusters_partitioned is the two-level exact plan — same
    output as the global-CC version and the driver union-find, on a
    cloud dense enough that clusters straddle block boundaries."""
    from asag_spark.operators.cluster import spatial_clusters_partitioned

    rows = []
    for i in range(300):
        hx = int(hashlib.md5(f"px{i}".encode()).hexdigest()[:8], 16) / 16**8
        hy = int(hashlib.md5(f"py{i}".encode()).hexdigest()[:8], 16) / 16**8
        rows.append((i, hx * 0.05, hy * 0.05))
    eps = 0.0015
    want = _brute_clusters(rows, eps)
    # block_cells=4 at this density forces many cross-block clusters
    for bc in (4, 16):
        got = {(r["point_id"], r["cluster_id"], r["cluster_size"])
               for r in spatial_clusters_partitioned(
                   _pts(spark, rows), eps=eps, block_cells=bc).collect()}
        assert got == want, f"block_cells={bc}"
    it = {(r["point_id"], r["cluster_id"], r["cluster_size"])
          for r in spatial_clusters(_pts(spark, rows), eps=eps).collect()}
    assert it == want


def test_partitioned_chain_across_four_blocks(spark):
    """A chain of points spaced 0.9*eps apart crossing a block corner:
    every link crosses a boundary, so the merge graph (not the local
    union-find) must glue the component; plus an isolated singleton."""
    from asag_spark.operators.cluster import spatial_clusters_partitioned

    eps = 0.001
    # block pitch = 2*eps = 0.002; corner at (0.002, 0.002); the chain
    # walks diagonally through it
    step = eps * 0.9 / (2 ** 0.5)
    rows = [(i, 0.0015 + i * step, 0.0015 + i * step) for i in range(8)]
    rows.append((99, 5.0, 5.0))
    got = {r["point_id"]: (r["cluster_id"], r["cluster_size"])
           for r in spatial_clusters_partitioned(
               _pts(spark, rows), eps=eps, block_cells=2).collect()}
    want = {i: (0, 8) for i in range(8)}
    want[99] = (99, 1)
    assert got == want


def test_partitioned_rejects_bad_args(spark):
    from asag_spark.operators.cluster import spatial_clusters_partitioned

    with pytest.raises(ValueError):
        spatial_clusters_partitioned(_pts(spark, []), eps=0.0)
    with pytest.raises(ValueError):
        spatial_clusters_partitioned(_pts(spark, []), eps=0.1, block_cells=1)


def test_kernel_exact_eps_witness_across_subcells():
    """The quotient-graph kernel merges two sub-cell cliques iff the
    MIN cross distance <= eps — exactly-eps must merge, just-over must
    not, and a dense metro (one giant blob) collapses to one cluster
    without quadratic pair work."""
    import numpy as np
    import pandas as pd

    from asag_spark.operators.cluster import _local_union_find

    eps = 0.001
    pdf = pd.DataFrame({
        "point_id": [1, 2, 3],
        "lon": [0.0, eps, 2 * eps + 1e-9],      # 1-2 at exactly eps
        "lat": [0.0, 0.0, 0.0],
    })
    lab = dict(zip(*_local_union_find(pdf, eps)[["point_id", "label"]]
                   .to_numpy().T))
    assert lab == {1: 1, 2: 1, 3: 3}

    # dense metro: 30k points inside a single 25x25-eps extent; the
    # clique shortcut must label them as ONE cluster (and in bounded
    # time — the pre-quotient kernel needed ~300M pair checks here)
    import hashlib
    n = 30_000
    xs = np.array([int(hashlib.md5(f"mx{i}".encode()).hexdigest()[:8], 16)
                   / 16**8 * 0.05 for i in range(n)])
    ys = np.array([int(hashlib.md5(f"my{i}".encode()).hexdigest()[:8], 16)
                   / 16**8 * 0.05 for i in range(n)])
    pdf = pd.DataFrame({"point_id": np.arange(n), "lon": xs, "lat": ys})
    out = _local_union_find(pdf, 0.002)
    assert out["label"].nunique() == 1
    assert (out["label"] == 0).all()


def test_within_distance_join_brute_parity_and_boundaries(spark):
    """Two-table radius join: brute-force parity on a deterministic
    cloud, cross-cell pairs found, distance exactly eps included,
    pairs never duplicated, plan is an equi-join."""
    import math

    from asag_spark.operators.cluster import within_distance_join

    def h(i, seed):
        v = int(hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:15], 16)
        return (v + 1) / 1152921504606846976.0

    left = [(i, h(i, "lx") * 0.01, h(i, "ly") * 0.01) for i in range(80)]
    right = [(i, h(i, "rx") * 0.01, h(i, "ry") * 0.01) for i in range(80)]
    eps = 0.002
    ldf = spark.createDataFrame(left, "stop_id long, lon double, lat double")
    rdf = spark.createDataFrame(right, "poi_id long, lon double, lat double")
    out = within_distance_join(ldf, rdf, eps,
                               left_id="stop_id", right_id="poi_id")
    got = {(r["stop_id"], r["poi_id"]) for r in out.collect()}
    want = {(a, b)
            for a, xa, ya in left for b, xb, yb in right
            if (xa - xb) ** 2 + (ya - yb) ** 2 <= eps * eps}
    assert got == want and len(want) > 50
    # no duplicate pairs from the 3x3 replication
    assert out.count() == len(got)

    # exact-eps boundary: included; cross-cell neighbor: found
    l2 = spark.createDataFrame([(1, 0.0009, 0.0)],
                               "stop_id long, lon double, lat double")
    r2 = spark.createDataFrame(
        [(10, 0.0011, 0.0),      # other cell, dist 0.0002
         (11, 0.0009, 0.001),    # exactly eps below/above
         (12, 0.0009, 0.001001)],  # just over
        "poi_id long, lon double, lat double")
    got2 = {r["poi_id"]
            for r in within_distance_join(l2, r2, 0.001,
                                          left_id="stop_id",
                                          right_id="poi_id").collect()}
    assert got2 == {10, 11}

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

    with pytest.raises(ValueError):
        within_distance_join(ldf, rdf, 0.0)
