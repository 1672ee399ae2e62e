"""Pins every GNN layer's literal weights. Spark and its DuckDB twin read
the same arrays, so the oracle differential cannot see a changed seed,
shape or draw order; a digest of the arrays can. No Spark needed."""

import hashlib

import pytest

from flink_streaming_gnn_spark.graph import attention, gatv2, gcn, gin, sage, sagepool
from flink_streaming_gnn_spark.llm import jl

# sha256 prefixes of (shape, dtype, bytes) per array, in return order
PINS = {
    "sage": (lambda: sage.sage_weights(), "50c077a6d87dce46"),
    "sage_layer2": (lambda: sage.sage_weights(2), "fa55eb08e64a82be"),
    "gcn": (lambda: (gcn.gcn_weights(),), "eefafb1f07058cea"),
    "gin": (gin.gin_weights, "e7f3de46f1b8fc41"),
    "sagepool": (sagepool.pool_weights, "cae1e4732e140d95"),
    "gat": (attention.gat_weights, "b6d585bc73b0db0b"),
    "gatv2": (gatv2.gatv2_weights, "775cc60b51b3db02"),
    "jl": (lambda: (jl.jl_matrix(),), "dac38f7883c6623a"),
}


@pytest.mark.parametrize("layer", sorted(PINS))
def test_layer_weights_pinned(layer):
    draw, expected = PINS[layer]
    h = hashlib.sha256()
    for a in draw():
        h.update(repr((a.shape, a.dtype.str)).encode())
        h.update(a.tobytes())
    assert h.hexdigest()[:16] == expected
