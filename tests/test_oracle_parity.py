"""Every registered query with an oracle must match DuckDB exactly
(rows sorted by all columns, exact values) at sf0.001. This mirrors —
and is stricter than — the driver's hash-based correctness gate."""

from __future__ import annotations

import pytest

from blockchain_indexer_spark.plans import REGISTRY
from tools.check_correctness import compare, duck_con

ORACLE_QUERIES = sorted(n for n, q in REGISTRY.items() if q.oracle is not None)
ROWS_ONLY_QUERIES = sorted(n for n, q in REGISTRY.items() if q.oracle is None)

#: The five heaviest parity params (each >15 s; mm_cross_modal alone
#: ~90 s — it replays three modality engines). They run in the slowe2e
#: tier; the default profile keeps the other 158. All five stay
#: covered by tools/check_correctness.py's full sweep.
HEAVY_PARITY = {
    "mm_cross_modal_dedup",
    "embedding_dbscan_lsh_agreement",
    "embedding_dbscan",
    "embedding_knn_triangles",
    "embedding_lp_ivf_agreement",
}
ORACLE_PARAMS = [
    pytest.param(n, marks=pytest.mark.slowe2e) if n in HEAVY_PARITY else n
    for n in ORACLE_QUERIES
]


#: Gates whose result at sf0.001 must also be non-empty: for these an
#: empty Spark result matching an empty oracle would prove nothing.
NONEMPTY = {
    "embedding_dbscan",
    "mm_image_dedup_clusters",
    "doc_mmr_rerank",
    "mm_audio_dedup_clusters",
    "mm_video_shots",
    "doc_longest_repeat",
    "doc_split_leakage",
    "mm_video_dedup_clusters",
    "mm_cross_modal_dedup",
    "embedding_pq_adc_agreement",
    "mm_audio_windowed_dedup",
    "embedding_dbscan_lsh_agreement",
}


@pytest.fixture(scope="module")
def con(sf_dir):
    return duck_con(sf_dir)


def test_nonempty_gates_are_oracled():
    assert NONEMPTY <= set(ORACLE_QUERIES)


@pytest.mark.parametrize("name", ORACLE_PARAMS)
def test_oracle_parity(spark, sf_dir, con, name):
    q = REGISTRY[name]
    spark_pdf = q.build(spark, sf_dir).toPandas()
    if name in NONEMPTY:
        assert len(spark_pdf) > 0, f"{name}: empty result proves nothing"
    duck_pdf = con.sql(q.oracle).df()
    problems = compare(name, spark_pdf, duck_pdf)
    assert not problems, f"{name}: {problems}"


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_queries_run(spark, sf_dir, name):
    q = REGISTRY[name]
    df = q.build(spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


# sf0.1 is the only scale factor containing zero-value events (one
# click with value 0.00), which exercise the C7 value>0 branches of
# the chain oracles — dead code at sf0.001/0.01. Pin them here so a
# drift in those oracle branches cannot pass the suite silently.
ZERO_VALUE_SENSITIVE = (
    "chain_classification_counts",
    "chain_eth_transfer_stats",
    "chain_timeline_counts",
)


@pytest.mark.parametrize("name", ZERO_VALUE_SENSITIVE)
def test_c7_zero_value_branches_at_sf01(spark, name):
    sf01 = "/root/testdata/sf0.1"
    q = REGISTRY[name]
    spark_pdf = q.build(spark, sf01).toPandas()
    con01 = duck_con(sf01)  # keep the connection alive past .sql()
    duck_pdf = con01.sql(q.oracle).df()
    problems = compare(name, spark_pdf, duck_pdf)
    assert not problems, f"{name}@sf0.1: {problems}"
