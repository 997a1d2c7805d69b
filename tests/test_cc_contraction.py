"""Correctness evidence for the partition-local union-find contraction.

Two layers:
- hypothesis sweep of the pure-pandas kernel (no Spark): for ANY edge list
  split into ANY partitioning, the union of the emitted star edges must
  have exactly the same connected components as the input graph, and each
  partition's stars must point at that partition's min member per class.
- randomized Spark cross-check: `connected_components` over random graphs
  at random partition counts equals a driver-side union-find oracle, both
  when the contracted stars are already the fixpoint (no loop round) and
  when they are not.
"""

from __future__ import annotations

import random

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from neo4j_export_tool_spark.operators.components import (
    connected_components,
    make_contract_kernel,
)


def _uf_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Driver-side oracle: vertex → min member of its component."""
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    mins: dict[int, int] = {}
    for x in parent:
        r = find(x)
        mins[r] = min(mins.get(r, x), x)
    return {x: mins[find(x)] for x in parent}


edges_strategy = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)), min_size=0, max_size=60
)


@given(edges=edges_strategy, n_parts=st.integers(1, 4), seed=st.integers(0, 999))
@settings(max_examples=150, deadline=None)
def test_contraction_preserves_connectivity(edges, n_parts, seed):
    rng = random.Random(seed)
    parts: list[list[tuple[int, int]]] = [[] for _ in range(n_parts)]
    for e in edges:
        parts[rng.randrange(n_parts)].append(e)

    kernel = make_contract_kernel("src", "dst")
    stars: list[tuple[int, int]] = []
    for part in parts:
        pdf = pd.DataFrame(part, columns=["src", "dst"]) if part else pd.DataFrame(
            {"src": [], "dst": []}
        )
        for out in kernel(iter([pdf])):
            stars.extend(zip(out["src"], out["dst"]))

    # same vertex set, same components, ≤ V star edges per partition
    assert _uf_components(stars) == _uf_components(edges)
    assert len(stars) <= sum(len({v for e in p for v in e}) for p in parts)


@given(edges=edges_strategy)
@settings(max_examples=100, deadline=None)
def test_single_partition_contraction_is_final(edges):
    """One partition sees everything → its stars ARE the final components."""
    kernel = make_contract_kernel("src", "dst")
    pdf = pd.DataFrame(edges, columns=["src", "dst"]) if edges else pd.DataFrame(
        {"src": [], "dst": []}
    )
    stars = {}
    for out in kernel(iter([pdf])):
        stars.update(zip(out["src"], out["dst"]))
    assert stars == _uf_components(edges)


def test_arrow_kernel_preserves_huge_ids_with_nulls():
    """The mapInArrow kernel's reason to exist (round-3 advice): nullable
    int64 edge columns must NOT round-trip through float64 — vertex ids
    above 2^53 stay bit-exact even when the column contains nulls."""
    import pyarrow as pa

    from neo4j_export_tool_spark.operators.components import (
        make_contract_kernel_arrow,
    )

    big = 2**53  # float64 loses odd integers from here up
    a, b, c = big + 1, big + 3, big + 5
    batch = pa.record_batch(
        [
            pa.array([a, b, None, c], type=pa.int64()),
            pa.array([b, None, a, c], type=pa.int64()),
        ],
        names=["src", "dst"],
    )
    kernel = make_contract_kernel_arrow("src", "dst")
    out = list(kernel(iter([batch])))
    assert len(out) == 1
    stars = dict(zip(out[0].column(0).to_pylist(), out[0].column(1).to_pylist()))
    # {a,b} union; b's half-null edge adds b as isolated (already present);
    # a appears via the (None, a) half-null edge too; c self-loop isolates c
    assert stars == {a: a, b: a, c: c}, stars
    # the float64 path would have collapsed big+1 and big+3 onto even
    # neighbors — assert the exact odd values survived
    assert all(k % 2 == 1 for k in stars)


def test_cc_random_graphs_match_oracle(spark):
    """End-to-end: random graphs, random partition counts, exact equality
    with the driver-side union-find oracle."""
    rounds = []
    for seed in (3, 17, 42):
        rng = random.Random(seed)
        n, m = 200, 300
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        expected = _uf_components(edges)
        df = spark.createDataFrame(edges, "src long, dst long").repartition(
            rng.choice([2, 3, 5])
        )
        res = connected_components(df, max_iterations=40)
        got = {r["id"]: r["component"] for r in res.components.collect()}
        assert res.converged
        assert got == expected, f"seed={seed}"
        rounds.append(res.iterations)
    # stars split across partitions: the loop must still run on some graph
    assert max(rounds) >= 1, rounds


ALIAS_EDGES = [
    ("Acme Inc", "Acme"),
    ("Acme", "ACME Corp"),
    ("ACME Corp", "Acme Corporation"),
    ("Bolt Ltd", "Bolt"),
    ("Crux", "Crux"),
    ("Dyno", "Dyno Labs"),
    ("Dyno Labs", "Bolt Ltd"),
]


def test_cc_single_partition_strings_is_contraction_fixpoint(spark):
    """The canonicalization shape: string ids on one partition contract to
    the final components, so no label-propagation round runs and the whole
    call costs a handful of Spark jobs."""
    edges = spark.createDataFrame(
        ALIAS_EDGES, "surface_a string, surface_b string"
    ).coalesce(1)
    sc = spark.sparkContext
    group = "test_cc_single_partition_strings"
    sc.setJobGroup(group, "cc on a one-partition alias graph")
    try:
        res = connected_components(edges, src="surface_a", dst="surface_b")
        got = {r["id"]: r["component"] for r in res.components.collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert res.iterations == 0
    assert res.converged
    assert res.round_timings["total_batches"] == 0
    assert got == _uf_components(ALIAS_EDGES)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 10, len(jobs)
