"""SAX symbolization vs a brute-force numpy oracle."""

import numpy as np
import pandas as pd
import pytest

from numalogic_spark.operators.tsfeatures import _SAX_BREAKPOINTS, sax_symbols


def _series_frame(spark, n=320, n_src=2, seed=5):
    rng = np.random.default_rng(seed)
    rows = []
    for s in range(n_src):
        x = np.round(rng.normal(20 + 5 * s, 4, n), 2)
        for i in range(n):
            rows.append((f"s{s}", i * 60, i, float(x[i])))
    pdf = pd.DataFrame(rows, columns=["source", "ts_s", "event_id", "value"])
    return spark.createDataFrame(pdf), pdf


def _sax_np(x, segment, alphabet):
    x = np.asarray(x, dtype=float)
    mu, sd = x.mean(), x.std()  # population std, the SAX convention
    bps = _SAX_BREAKPOINTS[alphabet]
    out = []
    for seg in range(int(np.ceil(len(x) / segment))):
        chunk = x[seg * segment : (seg + 1) * segment]
        paa = chunk.mean()
        z = (paa - mu) / sd if sd > 0 else 0.0
        z = np.floor(z * 1e6 + 0.5) / 1e6
        idx = sum(z >= b for b in bps)
        out.append((seg, len(chunk), "abcdefgh"[idx]))
    return out


def test_sax_matches_numpy(spark):
    df, pdf = _series_frame(spark)
    got = sax_symbols(df, segment=16, alphabet=4).toPandas()
    for s, grp in pdf.groupby("source"):
        exp = _sax_np(grp.sort_values("event_id")["value"].to_numpy(), 16, 4)
        g = got[got["source"] == s].sort_values("segment").reset_index(drop=True)
        assert len(g) == len(exp)
        for i, (seg, n_in, sym) in enumerate(exp):
            assert g.loc[i, "segment"] == seg
            assert g.loc[i, "n_in_segment"] == n_in
            assert g.loc[i, "symbol"] == sym


def test_sax_constant_series_middle_letter(spark):
    pdf = pd.DataFrame(
        {
            "source": ["c"] * 64,
            "ts_s": np.arange(64) * 60,
            "event_id": np.arange(64),
            "value": [7.5] * 64,
        }
    )
    out = sax_symbols(spark.createDataFrame(pdf), segment=16, alphabet=4).toPandas()
    # z = 0 everywhere; idx = (0 >= -0.674) + (0 >= 0) + (0 >= 0.674) = 2 -> 'c'
    assert set(out["symbol"]) == {"c"}
    assert (out["z"] == 0.0).all()


def test_sax_ragged_tail(spark):
    pdf = pd.DataFrame(
        {
            "source": ["r"] * 20,
            "ts_s": np.arange(20) * 60,
            "event_id": np.arange(20),
            "value": np.round(np.linspace(0, 10, 20), 2),
        }
    )
    out = (
        sax_symbols(spark.createDataFrame(pdf), segment=16, alphabet=4)
        .toPandas()
        .sort_values("segment")
    )
    assert out["n_in_segment"].tolist() == [16, 4]


def test_sax_rejects_unknown_alphabet(spark):
    df, _ = _series_frame(spark, n=32)
    with pytest.raises(ValueError):
        sax_symbols(df, alphabet=26)
