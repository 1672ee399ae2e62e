"""``bench.scale_corpus``, the one builder of scaled corpora, and the
tripwire that no query path writes under one. A scaled corpus is a cache
that ``bench.py`` and every ladder rung reuse across processes, so a key
that wrote into it would change what every later run reads."""

from __future__ import annotations

import os
import shutil

from flink_streaming_gnn_spark import registry
from flink_streaming_gnn_spark.sources.tables import load_table, table_path
from tests.conftest import SF_SMOKE
from bench import SHIFT_COLS, Rung, scale_corpus

X2 = Rung(dict.fromkeys(SHIFT_COLS, 2), 10**8, 2)


def _snapshot(root: str) -> dict[str, tuple[int, int]]:
    """(size, mtime_ns) of every entry under ``root``, through its links."""
    out = {}
    for dirpath, dirnames, files in os.walk(root, followlinks=True):
        for name in [".", *dirnames, *files]:
            st = os.stat(os.path.join(dirpath, name))
            out[os.path.join(dirpath, name)] = (st.st_size, st.st_mtime_ns)
    return out


def test_scale_corpus_copies_and_cache(spark, tmp_path):
    src = str(tmp_path / "src")
    shutil.copytree(SF_SMOKE, src)
    cache = str(tmp_path / "cache")
    os.mkdir(cache)
    out = scale_corpus(spark, src, X2, root=cache)

    for t, cols in SHIFT_COLS.items():
        base, scaled = load_table(spark, src, t), load_table(spark, out, t)
        assert scaled.count() == 2 * base.count(), t
        # the copies' keys are disjoint: each copy adds its own distinct keys
        key = cols[0]
        assert scaled.select(key).distinct().count() == 2 * base.select(key).distinct().count(), t
    assert os.path.islink(table_path(out, "nation"))  # dimensions are linked

    assert scale_corpus(spark, src, X2, root=cache) == out  # cached
    assert os.listdir(cache) == [os.path.basename(out)]  # no staging left behind

    st = os.stat(table_path(src, "customer"))
    os.utime(table_path(src, "customer"), ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert scale_corpus(spark, src, X2, root=cache) != out


def test_no_query_writes_under_scaled_corpus(spark, tmp_path):
    """A replayed stream, a graph kernel and the dedup clustering: each
    builds scratch (stream chunks, checkpoints, spools), which must land in
    process scratch, never beside the corpus it reads."""
    out = scale_corpus(spark, SF_SMOKE, X2, root=str(tmp_path))
    before = _snapshot(out)
    queries = registry.all_queries()
    for key in ("stream_tumbling_append_e2e", "graph_connected_components", "dedup_cluster_canonical"):
        queries[key](spark, out).write.format("noop").mode("overwrite").save()
    assert _snapshot(out) == before
