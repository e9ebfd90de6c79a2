"""dd6's large-star/small-star connected components (cc_bigstar) must
produce exactly the clusters a pure-Python union-find gives over the same
candidate edges of the real testdata corpus, and the known cluster on the
adversarial hot-shingle fixture."""

from __future__ import annotations

from racing_telemetry_pipeline_spark.queries.dedup_text import (
    _candidate_edges,
    dd6_dedup_clusters,
)

from .test_graph_cc import _union_find

SF = "/root/testdata/sf0.01"


def _clusters(df):
    return {
        (r.cluster_id, r.n_docs, r.min_doc, r.max_doc) for r in df.collect()
    }


def test_bigstar_equals_union_find(spark):
    edges = [(r.src, r.dst) for r in _candidate_edges(spark, SF).collect()]
    members: dict[int, list[int]] = {}
    for doc, cluster in _union_find(edges).items():
        members.setdefault(cluster, []).append(doc)
    want = {(c, len(ds), min(ds), max(ds)) for c, ds in members.items()}
    assert _clusters(dd6_dedup_clusters(spark, SF)) == want
    assert want, "expected at least one near-dup cluster in testdata"


def test_bigstar_on_hot_shingle_fixture(spark, tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("bigstar_hot")
    docs = []
    for i in range(120):
        body = " ".join(f"u{i}w{j}" for j in range(8))
        docs.append(f"{body} common boilerplate footer")
    # a 3-doc chain: 10~11 identical, 11~12 identical => one 3-cluster
    docs[10] = docs[11] = docs[12] = "alpha beta gamma delta epsilon zeta eta theta"
    tbl = pa.table(
        {
            "doc_id": pa.array(range(120), pa.int64()),
            "text": pa.array(docs),
            "source": pa.array(["s"] * 120),
            "lang": pa.array(["en"] * 120),
            "n_chars": pa.array([len(x) for x in docs], pa.int32()),
        }
    )
    pq.write_table(tbl, str(d / "documents.parquet"))
    assert _clusters(dd6_dedup_clusters(spark, str(d))) == {(10, 3, 10, 12)}
