"""Golden digests for the six rows-only driver queries.

These queries have no DuckDB duel (tag decoding, LSTM forwards and zlib are
not SQL), so their outputs are pinned instead: per query and corpus, the
row count and the sum of per-row ``xxhash64`` over every output column.
The ``kg_*`` queries run with ``prefer_snapshot=False`` so they reach the
live extraction path, not the committed snapshot.

Regenerate (only when an output change is intended and explained):

    python tests/test_golden_digests.py
"""

import json
import os

import pytest
from pyspark.sql import functions as F

GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "golden_digests.json")
SFS = ("sf0.001", "sf0.01")
TESTDATA = "/root/testdata"


def _queries():
    from scikg_spark.ops import kg, text

    live = {"prefer_snapshot": False}
    return {
        "kg_triples": lambda s, d: kg.kg_triples(s, d, **live),
        "kg_entity_nodes": lambda s, d: kg.kg_entity_nodes(s, d, **live),
        "kg_entity_edges": lambda s, d: kg.kg_entity_edges(s, d, **live),
        "q_compression_ratio": text.q_compression_ratio,
        "q_lm_perplexity": text.q_lm_perplexity,
        "q_filter_policy_lm": text.q_filter_policy_lm,
    }


def digest(df) -> list:
    """[row count, sum of per-row xxhash64 as a decimal string]."""
    h = F.xxhash64(*[F.col(c) for c in df.columns]).cast("decimal(38,0)")
    n, total = df.select(h.alias("h")).agg(F.count("*"), F.sum("h")).first()
    return [n, str(total if total is not None else 0)]


def digests(spark, sf: str) -> dict:
    return {name: digest(q(spark, os.path.join(TESTDATA, sf)))
            for name, q in _queries().items()}


@pytest.fixture(scope="module")
def golden():
    with open(GOLDEN) as fh:
        return json.load(fh)


@pytest.mark.parametrize("sf", SFS)
def test_rows_only_queries_match_golden(spark, golden, sf):
    assert digests(spark, sf) == golden[sf]


def test_digest_detects_one_row_change(spark, golden):
    """Dropping a single row from one query's output changes its digest."""
    from scikg_spark.ops import kg

    sf_dir = os.path.join(TESTDATA, "sf0.001")
    df = kg.kg_triples(spark, sf_dir, prefer_snapshot=False)
    n = golden["sf0.001"]["kg_triples"][0]
    assert digest(df) == golden["sf0.001"]["kg_triples"]
    assert digest(df.limit(n - 1)) != golden["sf0.001"]["kg_triples"]


if __name__ == "__main__":
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(GOLDEN)))
    from scikg_spark.pipeline.session import get_spark

    spark = get_spark(app_name="golden-digests", cores=4, shuffle_partitions=8)
    table = {sf: digests(spark, sf) for sf in SFS}
    with open(GOLDEN, "w") as fh:
        json.dump(table, fh, indent=2, sort_keys=True)
        fh.write("\n")
    print(json.dumps(table, indent=2, sort_keys=True))
    spark.stop()
