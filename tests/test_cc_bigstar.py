"""dd6's large-star/small-star connected components (cc_bigstar) must
produce exactly the clusters min-label propagation (cc_minlabel) does on the
real testdata corpus, and the known cluster on the adversarial hot-shingle
fixture."""

from __future__ import annotations

from racing_telemetry_pipeline_spark.operators.graph import cc_minlabel
from racing_telemetry_pipeline_spark.queries.dedup_text import (
    _candidate_edges,
    _cluster_rollup,
    dd6_dedup_clusters,
)

SF = "/root/testdata/sf0.01"


def _clusters(df):
    return {
        (r.cluster_id, r.n_docs, r.min_doc, r.max_doc) for r in df.collect()
    }


def test_bigstar_equals_minlabel(spark):
    a = _clusters(dd6_dedup_clusters(spark, SF))
    b = _clusters(_cluster_rollup(cc_minlabel(_candidate_edges(spark, SF))))
    assert a == b
    assert a, "expected at least one near-dup cluster in testdata"


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
