"""Property test: the distributed connected-components kernel must match a
pure-Python union-find oracle on random graphs — including empty edge
sets, long chains, stars, and dense blobs."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from racing_telemetry_pipeline_spark.operators.graph import cc_bigstar


def _union_find(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # label every seen node with its component min
    comp: dict[int, list[int]] = {}
    for n in list(parent):
        comp.setdefault(find(n), []).append(n)
    return {n: min(members) for root, members in comp.items() for n in members}


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)),
        min_size=0,
        max_size=60,
    ),
    chain_len=st.integers(0, 12),
)
def test_cc_bigstar_matches_union_find(spark, edges, chain_len):
    # append a long chain — the large-diameter case, which needs the most
    # contraction rounds but must not change the answer
    base = 100
    edges = edges + [(base + i, base + i + 1) for i in range(chain_len)]
    edges = [(a, b) for a, b in edges if a != b]
    want = _union_find(edges)

    if not edges:
        df = spark.createDataFrame([], "src long, dst long")
    else:
        df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.doc_id: r.cluster_id for r in cc_bigstar(df).collect()}
    assert got == want
