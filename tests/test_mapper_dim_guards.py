"""The Arrow-batch Lloyd mappers reject vectors whose dimension disagrees
with the codebook by raising ValueError, which ``python -O`` keeps (an
assert would be compiled out and the per-dim partial sums would skew).

Each mismatched batch below broadcasts against its codebook without a
numpy error, so only the mapper's own check can reject it."""

import pandas as pd
import pytest

from streamlit_projet_spark_streaming_spark.operators.quantize import _lloyd_partials_mapper
from streamlit_projet_spark_streaming_spark.operators.similarity import _gk_partials_mapper

TWO_DIM_CODEBOOK = [[0.0, 0.0], [1.0, 1.0]]
ONE_DIM_CODEBOOK = [[0.0], [1.0]]


@pytest.mark.parametrize(
    "vectors", [[[0.1], [0.4]], [[0.1, 0.2], [0.4, 0.5, 0.6]]], ids=["codebook_dim", "ragged"]
)
def test_gk_partials_mapper_rejects_bad_dims(vectors):
    pdf = pd.DataFrame({"embedding": vectors, "cb": [TWO_DIM_CODEBOOK] * len(vectors)})
    with pytest.raises(ValueError):
        list(_gk_partials_mapper()(iter([pdf])))


@pytest.mark.parametrize(
    "codes", [[[1, 2], [3, 4]], [[1], [2, 3]]], ids=["codebook_dim", "ragged"]
)
def test_lloyd_partials_mapper_rejects_bad_dims(codes):
    pdf = pd.DataFrame({"codes": codes, "cb": [ONE_DIM_CODEBOOK] * len(codes)})
    with pytest.raises(ValueError):
        list(_lloyd_partials_mapper(1)(iter([pdf])))
