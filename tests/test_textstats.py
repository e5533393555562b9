"""Order-sensitive document fingerprint (operators/dedup.py)."""

import pandas as pd

from numalogic_spark.operators.dedup import doc_fingerprint


def test_fingerprint_semantics(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": ["x", "y", "z"],
            "text": ["alpha beta gamma", "gamma beta alpha", "alpha beta gamma"],
        }
    )
    df = spark.createDataFrame(pdf)
    got = doc_fingerprint(df).toPandas().set_index("doc_id")["fingerprint"]
    assert got["x"] == got["z"]  # identical text → identical fp
    assert got["x"] != got["y"]  # order-sensitive (unlike word-set hashes)
    assert 0 <= got["x"] < 2147483647
