"""Per-row vector expressions pinned bit-for-bit against NumPy.

`l2_normalize` and the int8 quantizer fold their per-row scalar (sum of
squares, max |x|) once and scale in the fold's ``finish`` step; these
tests pin that the values are exactly what the textbook formula gives,
including the zero-vector and NULL-vector branches."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from datawaves_etl_airflow_spark.operators.similarity import (
    l2_normalize,
    quantize_embeddings_int8,
)

DIM = 24


def _vectors(spark):
    rng = np.random.default_rng(7)
    rows = [
        (i, [float(x) for x in rng.normal(scale=10.0 ** (i % 5 - 2), size=DIM)])
        for i in range(40)
    ]
    rows.append((100, [0.0] * DIM))  # zero vector
    rows.append((101, None))  # NULL vector
    rows.append((102, [0.0] * (DIM - 1) + [-3.5]))  # one non-zero, negative
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _bits(v):
    return np.asarray(v, dtype=np.float64).tobytes()


class TestL2NormalizeMatchesNumpy:
    def test_bit_identical(self, spark):
        df = _vectors(spark)
        got = {
            r["vec_id"]: r["v"]
            for r in df.select(
                "vec_id", l2_normalize(F.col("embedding")).alias("v")
            ).collect()
        }
        for r in df.collect():
            vec = r["embedding"]
            if vec is None:
                assert got[r["vec_id"]] is None
                continue
            x = np.asarray(vec, dtype=np.float64)
            ss = 0.0
            for e in x:  # left-to-right, like the SQL fold
                ss += e * e
            want = x / np.sqrt(ss) if ss > 0 else x
            assert _bits(got[r["vec_id"]]) == _bits(want), r["vec_id"]
        assert got[100] == [0.0] * DIM


class TestQuantizeInt8MatchesNumpy:
    def test_bit_identical(self, spark):
        df = _vectors(spark)
        got = {r["vec_id"]: r for r in quantize_embeddings_int8(df).collect()}
        for r in df.collect():
            out = got[r["vec_id"]]
            vec = r["embedding"]
            if vec is None:
                assert out["q"] is None and out["scale"] is None
                continue
            x = np.asarray(vec, dtype=np.float64)
            m = np.max(np.abs(x))
            want_q = (
                np.zeros(DIM, dtype=np.int64)
                if m == 0
                else np.floor(x * 127.0 / m).astype(np.int64)
            )
            assert out["q"] == want_q.tolist(), r["vec_id"]
            assert _bits([out["scale"]]) == _bits([m / 127.0])
        assert got[102]["q"] == [0] * (DIM - 1) + [-127]
